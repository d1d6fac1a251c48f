#!/usr/bin/env python3
"""CDC sync benchmark: times the engine's public entry points from
outside the program and checks every output against the generator's
ground truth.

    python3 perfbench/run.py --workload <name|all> --seed N \\
        --seconds S --trace 0|1

Run it from the repository root. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer metrics of a separate traced run.
The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
are a readable summary with sample counts and noise context.
``--workload all`` runs every workload of BENCHMARK.json, one process
each, one after the other. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "python_cdc_component_spark"

SETUP_ROUNDS = 3       # set-up is repeated and its median reported
PROBES = 10            # serving reads after the timed ops, one client
CONTROL_ROWS = 5_000_000


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _benchmark() -> dict:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return json.load(fh)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _driver_memory() -> str:
    """A driver heap well below physical memory (the engine's own default
    is 16g whatever the machine has). It is also the initial heap: a heap
    that resizes itself while the run goes was the largest source of
    run-to-run spread."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(2048, phys_mb // 4)}m"


def _session(tmp: str, cpus: int, event_log: str | None = None):
    from python_cdc_component_spark.session import get_spark
    conf = {
        "spark.driver.memory": _driver_memory(),
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            f"-Xms{_driver_memory()}",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false"})
    return get_spark("perfbench", cpus=str(cpus), extra_conf=conf)


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _control_probe(spark) -> float:
    """Fixed synthetic job (range -> hash -> groupBy -> noop) that touches
    no engine code: a slow reading flags a contended machine."""
    from pyspark.sql import functions as F
    t0 = time.perf_counter()
    (spark.range(CONTROL_ROWS)
     .select(F.pmod(F.xxhash64("id"), F.lit(1000)).alias("k"))
     .groupBy("k").count().write.format("noop").mode("overwrite").save())
    return time.perf_counter() - t0


def _q(values: list[float], p: float) -> float:
    """Percentile by linear interpolation between closest ranks."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    x = p * (len(v) - 1)
    lo = int(x)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (x - lo)


def _supported(n: int) -> str:
    """Highest percentile with at least ten samples beyond it."""
    return f"p{int(100 * (1 - 10 / n))}" if n > 10 else "none"


class Op:
    """One timed sync or drain and what was observed around it."""

    def __init__(self, i: int):
        self.i = i
        self.seconds = 0.0
        self.wall = (0.0, 0.0)
        self.result = None
        self.errors: list[str] = []
        self.queries = 0
        self.progress: list[dict] = []
        self.files = self.bytes = self.csv_files = 0


class Runner:
    def __init__(self, name: str, seed: int, seconds: float, tmp: str):
        import workloads
        self.name, self.seconds, self.tmp = name, seconds, tmp
        self.cpus = _nproc()
        self.w = workloads.WORKLOADS[name](os.path.join(tmp, "data"), seed)
        self.spark = None
        self.listener = None
        self.tracer = None
        self.next_op = 0
        self.lines: list[str] = []

    # -- session and ops ------------------------------------------------
    def start(self, cpus: int | None = None,
              event_log: str | None = None) -> None:
        from tracing import BatchListener
        if self.spark is not None:
            self.spark.stop()
        self.spark = _session(self.tmp, cpus or self.cpus, event_log)
        self.listener = BatchListener()
        self.spark.streams.addListener(self.listener)

    def op(self, keep: bool = False) -> Op:
        """Prepare, time, and check one op; its output is removed unless
        ``keep``."""
        op = Op(self.next_op)
        self.next_op += 1
        self.w.prepare(op.i)
        self.listener.reset()
        if self.tracer:
            self.tracer.op = op.i
        w0, t0 = time.time(), time.perf_counter()
        try:
            op.result = self.w.op(self.spark, op.i)
        except Exception:
            op.errors.append(traceback.format_exc(limit=4))
        op.seconds = time.perf_counter() - t0
        op.wall = (w0, time.time())
        if self.tracer:
            self.tracer.op = None
        if not self.listener.wait_terminated():
            op.errors.append("a streaming query never reported its end")
        op.queries, op.progress = self.listener.snapshot()
        if not op.errors:
            try:
                op.errors += self.w.check(self.spark, op.i, op.result)
            except Exception:
                op.errors.append(traceback.format_exc(limit=4))
        for e in op.errors:
            print(f"perfbench: {self.name} op {op.i} failed: {e}",
                  file=sys.stderr)
        if self.tracer:
            op.files, op.bytes = self.w.output_size(op.i)
            op.csv_files = self.w.csv_files(op.i)
        if not keep:
            self.w.cleanup(op.i)
        return op

    def setup(self) -> list[float]:
        """Set-up rounds: start (or restart) the session, seed the
        pre-existing state, run one untimed warm-up op. The first round
        also launches the JVM. A warm-up op that fails stops the run."""
        rounds = []
        for _ in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            self.start()
            self.w.seed_state(self.spark)
            seeded = time.perf_counter() - t0
            op = self.op()
            rounds.append(seeded + op.seconds)
            if op.errors:
                raise RuntimeError(f"warm-up op failed: {op.errors[0]}")
        return rounds

    def window(self) -> list[Op]:
        """Timed ops until their summed time reaches ``seconds``; the
        last op's output is kept for the probes."""
        ops, spent = [], 0.0
        while True:
            op = self.op(keep=True)
            ops.append(op)
            spent += op.seconds
            if spent >= self.seconds:
                return ops
            self.w.cleanup(op.i)

    def probes(self, op: Op) -> tuple[list[float], int]:
        times, failed = [], 0
        if op.errors:
            return times, PROBES
        for j in range(PROBES):
            t0 = time.perf_counter()
            try:
                check = self.w.probe(self.spark, op.i, j)
                dt = time.perf_counter() - t0
                errs = check()
            except Exception:
                dt, errs = 0.0, [traceback.format_exc(limit=4)]
            if errs:
                failed += 1
                print(f"perfbench: {self.name} probe {j} failed: {errs[0]}",
                      file=sys.stderr)
            else:
                times.append(dt)
        return times, failed

    def peak_rss_mb(self) -> float:
        jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return _vm_hwm_mb(jvm) + _vm_hwm_mb("self")

    def noise(self, when: str) -> dict:
        if when == "start":
            _control_probe(self.spark)      # compile it once, untimed
        return {f"loadavg_{when}": list(os.getloadavg()),
                f"control_{when}_s": _control_probe(self.spark)}

    # -- end-to-end run ---------------------------------------------------
    def batch_ms(self, ops: list[Op]) -> list[float]:
        """Micro-batch latencies (``triggerExecution``); a batch sync is
        one bounded batch, so its latency is the sync's."""
        if not self.w.streaming:
            return [o.seconds * 1000 for o in ops]
        return [float(p["ms"]["triggerExecution"])
                for o in ops for p in o.progress
                if "triggerExecution" in p["ms"]]

    def run_untraced(self) -> tuple[dict, int, int, list[Op], dict]:
        rounds = self.setup()
        ctx = self.noise("start")
        ops = self.window()
        good = [o for o in ops if not o.errors]
        probe_t, probe_failed = self.probes(ops[-1])
        self.w.cleanup(ops[-1].i)
        rss = self.peak_rss_mb()
        ctx.update(self.noise("end"))
        sync = [o.seconds for o in good]
        batches = self.batch_ms(good)
        med = statistics.median(sync) if sync else 0.0
        values = {
            "setup_s": (statistics.median(rounds), "s", rounds),
            "sync_s": (med, "s", sync),
            "events_per_s": (self.w.events_per_op / med if med else 0.0,
                             "events/s", sync),
            "batch_ms_p50": (_q(batches, 0.5) if batches else 0.0, "ms",
                             batches),
            "batch_ms_p90": (_q(batches, 0.9) if batches else 0.0, "ms",
                             batches),
            "probe_ms_p50": (1000 * statistics.median(probe_t)
                             if probe_t else 0.0, "ms", probe_t),
            "peak_rss_mb": (rss, "MB", [rss]),
        }
        self.lines.append(f"# {self.name}: {len(ops)} timed ops, "
                          f"{self.w.events_per_op} events each, "
                          f"{self.cpus} cores")
        for k, (v, unit, sample) in values.items():
            self.lines.append(f"#   {k:<14} {v:>14.4f} {unit:<9} "
                              f"n={len(sample)} "
                              f"highest supported={_supported(len(sample))}")
        self.lines.append("# setup rounds (s): "
                          + ", ".join(f"{r:.3f}" for r in rounds))
        self.lines.append("# noise " + json.dumps(ctx))
        attempted = len(ops) + PROBES
        failed = (len(ops) - len(good)) + probe_failed
        # the result line carries the end-to-end metrics BENCHMARK.json
        # gates; the summary above also shows the probe latency
        metrics = {m["name"]: {"value": values[m["name"]][0],
                               "unit": values[m["name"]][1]}
                   for m in _benchmark()["end_to_end"]}
        return metrics, attempted, failed, ops, ctx

    # -- traced run -------------------------------------------------------
    def run_traced(self) -> tuple[dict, int, int]:
        from tracing import Tracer, read_event_log
        _, attempted, failed, plain, ctx = self.run_untraced()
        log_dir = os.path.join(self.tmp, "eventlog")
        self.start(event_log=log_dir)
        self.op()                                   # warm the new context
        self.tracer = Tracer()
        self.tracer.install()
        try:
            ops = self.window()
            self.tracer.op = "probe"
            _, probe_failed = self.probes(ops[-1])
            self.tracer.op = None
            failed += probe_failed
            attempted += PROBES
            extras = self.w.traced_extras(self.spark, ops[-1].i)
            self.w.cleanup(ops[-1].i)
            extras.update(self.layer_probes())
        finally:
            self.tracer.uninstall()
        speedup = 0.0
        if not self.w.streaming:
            self.start(cpus=1)
            self.op()
            one = self.op()
            good = [o.seconds for o in plain if not o.errors]
            if not one.errors and good:
                speedup = one.seconds / statistics.median(good)
            failed += bool(one.errors)
            attempted += 1
        self.spark.stop()
        self.spark = None
        events = read_event_log(log_dir)
        good = [o for o in ops if not o.errors]
        attempted += len(ops)
        failed += len(ops) - len(good)
        m = self.layer_metrics(good, plain, events, extras)
        m["engine.parallel_speedup"] = (speedup, "ratio")
        self.save_trace(ctx, ops, extras)
        return ({k: {"value": v, "unit": u} for k, (v, u) in m.items()},
                attempted, failed)

    def layer_probes(self, reps: int = 5) -> dict:
        """Noop materialisations of the source scan and of the engine's
        per-table plan over it (``engine.plan_table``), alternated, after
        one untimed pass of each."""
        from python_cdc_component_spark.engine import SyncConfig, plan_table
        from python_cdc_component_spark.sources.events import (
            read_cdc_events)

        def timed(build) -> float:
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        def union(frames):
            df = frames[0]
            for f in frames[1:]:
                df = df.unionByName(f)
            return df

        dirs = self.w.scan_dirs()
        cfg = SyncConfig(mode="DEDUPE", primary_keys=["user_id"])
        def scan():
            return union([read_cdc_events(self.spark, d) for d in dirs])

        def plan():
            return union([plan_table(read_cdc_events(self.spark, d), cfg)
                          for d in dirs])

        timed(scan), timed(plan)
        pairs = [(timed(scan), timed(plan)) for _ in range(reps)]
        return {"scan_s": statistics.median(p[0] for p in pairs),
                "plan_s": statistics.median(p[1] for p in pairs)}

    def layer_metrics(self, ops: list[Op], plain: list[Op], events,
                      extras: dict) -> dict:
        from tracing import event_log_counts

        def med(f) -> float:
            vals = [f(o) for o in ops]
            return float(statistics.median(vals)) if vals else 0.0

        def span_s(o: Op, name: str) -> float:
            return sum(s["end"] - s["start"]
                       for s in self.tracer.op_spans(o.i)
                       if s["name"] == name)

        def spans(o: Op, name: str) -> list[dict]:
            return [s for s in self.tracer.op_spans(o.i)
                    if s["name"] == name]

        def dur(o: Op, *keys) -> float:
            return float(sum(p["ms"].get(k, 0) for p in o.progress
                             for k in keys))

        el = {o.i: event_log_counts(events, o.wall[0] * 1000,
                                    o.wall[1] * 1000) for o in ops}

        def rewrite_ratio(o: Op) -> float:
            m = spans(o, "sinks.merge")
            cap = sum(s.get("num_buckets", 0) for s in m)
            return (sum(s.get("buckets_rewritten", 0) for s in m) / cap
                    if cap else 0.0)

        plain_s = [o.seconds for o in plain if not o.errors]
        traced_s = [o.seconds for o in ops]
        m = {
            "sources.scan_s": (extras["scan_s"], "s"),
            "sources.list_ms": (med(lambda o: dur(o, "latestOffset",
                                                  "getBatch")), "ms"),
            "sources.input_bytes": (med(lambda o: el[o.i]["input_bytes"]),
                                    "bytes"),
            "sources.input_records": (
                med(lambda o: el[o.i]["input_records"]), "count"),
            "operators.dedup_s": (extras["plan_s"] - extras["scan_s"], "s"),
            "operators.shuffle_bytes": (
                med(lambda o: el[o.i]["shuffle_bytes"]), "bytes"),
            "operators.spill_bytes": (
                med(lambda o: el[o.i]["spill_bytes"]), "bytes"),
            "sinks.csv_write_s": (med(lambda o: span_s(o, "sinks.csv_write")),
                                  "s"),
            "sinks.csv_files": (med(lambda o: o.csv_files), "count"),
            "sinks.merge_s": (med(lambda o: span_s(o, "sinks.merge")), "s"),
            "sinks.merge_calls": (med(lambda o: len(spans(o, "sinks.merge"))),
                                  "count"),
            "sinks.buckets_rewritten": (
                med(lambda o: sum(s.get("buckets_rewritten", 0)
                                  for s in spans(o, "sinks.merge"))),
                "count"),
            "sinks.rewrite_ratio": (med(rewrite_ratio), "ratio"),
            "sinks.write_amplification": (
                med(lambda o: el[o.i]["output_bytes"]) / self.w.input_bytes,
                "ratio"),
            "sinks.manifest_s": (med(lambda o: span_s(o, "sinks.manifest")),
                                 "s"),
            "sinks.state_s": (med(lambda o: span_s(o, "sinks.state")), "s"),
            "sinks.bytes_written": (med(lambda o: o.bytes), "bytes"),
            "sinks.files_written": (med(lambda o: o.files), "count"),
            "streaming.triggers": (med(lambda o: len(o.progress)), "count"),
            "streaming.trigger_ms": (med(lambda o: dur(o, "triggerExecution")),
                                     "ms"),
            "streaming.plan_ms": (med(lambda o: dur(o, "queryPlanning")),
                                  "ms"),
            "streaming.add_batch_ms": (med(lambda o: dur(o, "addBatch")),
                                       "ms"),
            "streaming.commit_ms": (med(lambda o: dur(o, "walCommit",
                                                      "commitOffsets")), "ms"),
            "streaming.driver_idle_s": (
                med(lambda o: o.seconds - dur(o, "triggerExecution") / 1000),
                "s"),
            "streaming.queries": (med(lambda o: o.queries), "count"),
            "model.registry_s": (med(lambda o: span_s(o, "model.registry")),
                                 "s"),
            "engine.spark_jobs": (med(lambda o: el[o.i]["jobs"]), "count"),
            "engine.spark_stages": (med(lambda o: el[o.i]["stages"]),
                                    "count"),
            "engine.spark_tasks": (med(lambda o: el[o.i]["tasks"]), "count"),
            "engine.executor_busy_ratio": (
                med(lambda o: el[o.i]["run_ms"] / 1000
                    / (o.seconds * self.cpus)), "ratio"),
            "engine.gc_ms": (med(lambda o: el[o.i]["gc_ms"]), "ms"),
            "trace.overhead_s": (
                (statistics.median(traced_s) - statistics.median(plain_s))
                if traced_s and plain_s else 0.0, "s"),
        }
        if self.w.side_state:
            probe_spans = self.tracer.op_spans("probe")
            bm25 = [1000 * (s["end"] - s["start"]) for s in probe_spans
                    if s["name"] == "streaming.lexical_state.bm25_topk"]
            m.update({
                f"{name}_s": (med(lambda o, n=name: span_s(o, n)), "s")
                for name in ("streaming.dedup_state.process_batch",
                             "streaming.dedup_state.purge",
                             "streaming.lexical_state.add_batch",
                             "streaming.lexical_state.purge",
                             "streaming.lexical_state.compact")})
            m["streaming.lexical_state.bm25_topk_ms"] = (
                statistics.median(bm25) if bm25 else 0.0, "ms")
            m["streaming.dedup_state.near_dup_recall"] = (
                extras["near_dup_recall"], "ratio")
        return m

    def save_trace(self, ctx: dict, ops: list[Op], extras: dict) -> None:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        doc = {"workload": self.name, "noise": ctx, "extras": extras,
               "ops": [{"op": o.i, "seconds": o.seconds, "wall": o.wall,
                        "queries": o.queries, "progress": o.progress,
                        "errors": o.errors} for o in ops],
               "spans": self.tracer.spans}
        path = os.path.join(out, f"trace-{self.name}.json")
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1, default=str)
        self.lines.append(f"# spans written to {os.path.relpath(path)}")


def run_one(name: str, seed: int, seconds: float, trace: bool) -> dict:
    tmp = tempfile.mkdtemp(prefix=".perfbench-tmp-", dir=ROOT)
    os.environ["TMPDIR"] = tmp
    runner = None
    try:
        runner = Runner(name, seed, seconds, tmp)
        if trace:
            metrics, attempted, failed = runner.run_traced()
        else:
            metrics, attempted, failed, _, _ = runner.run_untraced()
        for line in runner.lines:
            print(line)
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed, "metrics": metrics}
    finally:
        if runner is not None and runner.spark is not None:
            runner.spark.stop()
        _stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)


def _stop_jvm(timeout_s: float = 60.0) -> None:
    """End the JVM this process launched and wait for it to exit (it
    also ends the Python workers it started). The JVM exits when its
    stdin pipe closes."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def run_all(args) -> dict:
    """Every listed workload in its own process, one after the other."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in [w["name"] for w in _benchmark()["workloads"]]:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            _fail(f"workload {name} exited with {proc.returncode}")
        print("\n".join(lines[:-1]))
        doc = json.loads(lines[-1])
        total["correct"] &= doc["correct"]
        total["attempted"] += doc["attempted"]
        total["failed"] += doc["failed"]
        for k, v in doc["metrics"].items():
            total["metrics"][f"{name}.{k}"] = v
    return total


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the program under test is built from the checkout's own source
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        _fail(f"no {PACKAGE}/ in {ROOT}: run from the repository root")
    sys.path.insert(0, ROOT)
    sys.path.insert(1, HERE)
    try:
        import python_cdc_component_spark.engine  # noqa: F401
    except ImportError as e:
        _fail(f"cannot import the engine: {e}")

    if args.workload == "all":
        doc = run_all(args)
    else:
        import workloads
        if args.workload not in workloads.WORKLOADS:
            _fail(f"unknown workload {args.workload!r}; choose from "
                  f"{sorted(workloads.WORKLOADS)} or 'all'")
        doc = run_one(args.workload, args.seed, args.seconds,
                      bool(args.trace))
    print(json.dumps(doc), flush=True)
    sys.exit(0)


if __name__ == "__main__":
    main()
