"""Dump `.explain("formatted")` of named queries to files (round-13
optimization evidence: plans/r13/<query>_{before,after}.txt).

Usage::

    python scripts/dump_plan_files.py OUTDIR SUFFIX QUERY [QUERY ...]

Writes OUTDIR/<query>_<SUFFIX>.txt for each query at
$SPARK_GRAFT_SF_DIR (default sf0.1).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from python_cdc_component_spark.session import get_spark  # noqa: E402
from python_cdc_component_spark.queries import QUERIES  # noqa: E402


def main() -> None:
    outdir, suffix, *names = sys.argv[1:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dump_plan_files")
    for n in names:
        df = QUERIES[n](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        txt = buf.getvalue()
        with open(os.path.join(outdir, f"{n}_{suffix}.txt"), "w") as f:
            f.write(txt)
        print(f"wrote {n}_{suffix}.txt ({len(txt)} chars)")


if __name__ == "__main__":
    main()
