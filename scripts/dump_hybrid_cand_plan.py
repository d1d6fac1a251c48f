"""Dump the `.explain("formatted")` of hybrid_dedup_keep's CANDIDATE
chain (the interior job the final plan hides behind its eager
localCheckpoint): collapsed shingles -> distinct/signature stage ->
band self-join -> pair distinct.

Usage: python scripts/dump_hybrid_cand_plan.py OUTFILE {old|new}

`old` reconstructs the pre-r14 shape from the public pieces (the
test_r8_hybrid_collapse.py reconstruction); `new` uses the current
module code path.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from python_cdc_component_spark.caching import persist_once  # noqa: E402
from python_cdc_component_spark.session import get_spark  # noqa: E402
from python_cdc_component_spark.operators.llm.hybrid import (  # noqa: E402
    exact_group_keyed)
from python_cdc_component_spark.operators.llm.minhash import (  # noqa: E402
    band_table, shingle_hashes, signatures_from_hashes)


def main() -> None:
    outfile, shape = sys.argv[1], sys.argv[2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dump_hybrid_cand_plan")
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text"))
    _, collapsed = exact_group_keyed(docs)
    if shape == "old":
        # the exact pre-r14 hybrid candidate build, persist pins included
        sh = persist_once(shingle_hashes(collapsed).distinct())
        stats = persist_once(signatures_from_hashes(sh, with_count=True))
        bands = band_table(stats.drop("n"))
        a, b = bands.alias("a"), bands.alias("b")
        cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                       & (F.col("a.bv") == F.col("b.bv"))
                       & (F.col("a.doc_id") < F.col("b.doc_id")))
                .select(F.col("a.doc_id").alias("da"),
                        F.col("b.doc_id").alias("db"))
                .distinct())
    else:
        from python_cdc_component_spark.operators.llm.hybrid import (
            lsh_candidate_pairs)
        sets = persist_once(signatures_from_hashes(
            shingle_hashes(collapsed), with_set=True))
        cand = lsh_candidate_pairs(sets)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cand.explain("formatted")
    txt = buf.getvalue()
    with open(outfile, "w") as f:
        f.write(txt)
    n_ex = txt.count(" Exchange")
    print(f"wrote {outfile} ({len(txt)} chars, ~{n_ex} Exchange mentions)")


if __name__ == "__main__":
    main()
