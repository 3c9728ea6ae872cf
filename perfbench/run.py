"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

Run it from the repository root. Workloads:

- ``relational``: TPC-H queries over generated tables (catalog and planner).
- ``pipeline``: recipe batch twins and LLM-data/graph operators (memo,
  Python boundary, eager sub-jobs).
- ``alert_stream``: the two-query alert topology over generated JSON files
  (state store, micro-batches, file source/sink, per-key Python state).

Every input is generated from ``--seed`` under ``.perfbench_work/`` (wiped at
the start of each run). The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``). A
fuller record of the run, and with ``--trace 1`` its spans, go to
``.perfbench_out/``. The exit code is 1 when any correctness gate fails and
2 when the program cannot be run at all. LAYERS.md maps each per-layer
metric to the end-to-end metric and workload it should move.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"

#: generated batch tables: lineitem ~ 6M x SCALE rows (~60k)
SCALE = 0.01

END_TO_END = {
    "setup_s": "s",
    "sweep_s": "s",
    "op_geomean_s": "s",
    "op_p50_s": "s",
    "op_p75_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "registry.import_s": "s",
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "build.s": "s",
    "build.eager_jobs": "count",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "spill.bytes": "bytes",
    "gc.s": "s",
    "python.total_s": "s",
    "python.boot_s": "s",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "memo.builds": "count",
    "memo.build_s": "s",
    "memo.hits": "count",
    "memo.timed_builds": "count",
    "stream.s1.batches": "count",
    "stream.s1.batch_p50_ms": "ms",
    "stream.s1.addBatch_ms": "ms",
    "stream.s1.latestOffset_ms": "ms",
    "stream.s1.queryPlanning_ms": "ms",
    "stream.s1.walCommit_ms": "ms",
    "stream.s1.state_rows": "count",
    "stream.s1.state_bytes": "bytes",
    "stream.s1.late_dropped": "count",
    "stream.s2.batches": "count",
    "stream.s2.empty_batches": "count",
    "stream.s2.useful_batch_ratio": "ratio",
    "stream.s2.batch_p50_ms": "ms",
    "stream.s2.addBatch_ms": "ms",
    "stream.s2.state_rows": "count",
    "stream.s2.state_bytes": "bytes",
    "parse.dropped": "count",
    "gen.late_max_s": "s",
    "gen.files": "count",
    "gen.backlog_end_files": "count",
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
}

WORKLOADS = ("relational", "pipeline", "alert_stream")
FAULTS = ("batch_result", "drop_alert", "extra_malformed", "overload")


class Context:
    """What one run shares between its phases."""

    def __init__(self, args, tracer, rss, work: Path) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.tracer = tracer
        self.rss = rss  # started at set-up, stopped when the timed phase ends
        self.work = work
        self.data_dir = str(work / "data")
        self.fault = os.environ.get("PERFBENCH_FAULT") or None
        if self.fault not in (None, *FAULTS):
            raise SystemExit(f"unknown PERFBENCH_FAULT {self.fault!r}")
        self.spark = None
        self.specs: dict = {}
        self.layers: dict[str, float] = {}
        self.stream: dict | None = None  # alert_stream's progress and generator

    def start_spark(self) -> None:
        from flink_cookbook_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer.enabled:
            (self.work / "eventlog").mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (self.work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
            })
        with self.tracer.span("session.start"):
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench", extra_conf=conf)
            self.spark.range(1).collect()
            self.layers["session.start_s"] = time.perf_counter() - t0

    def import_registry(self) -> None:
        with self.tracer.span("registry.import"):
            t0 = time.perf_counter()
            from flink_cookbook_spark.registry import all_specs

            self.specs = all_specs()
            self.layers["registry.import_s"] = time.perf_counter() - t0

    def stop_spark(self) -> None:
        """Stop Spark and its JVM, and wait for every child process."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        reap_children()


def _children() -> list[int]:
    me = os.getpid()
    kids = []
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            text = stat.read_text()
        except OSError:
            continue
        if int(text.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(text.split(" ", 1)[0]))
    return kids


def reap_children(timeout_s: float = 20.0) -> None:
    """Wait for every child process to end; kill what outlives the timeout."""
    deadline = time.monotonic() + timeout_s
    while True:
        kids = _children()
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        kids = _children()
        if not kids:
            return
        if time.monotonic() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                    os.waitpid(pid, 0)
                except (ProcessLookupError, ChildProcessError):
                    pass
            return
        time.sleep(0.1)


def _finite(x) -> float:
    x = float(x)
    return x if math.isfinite(x) else 0.0


def _prepare_env(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "data"):
        (work / sub).mkdir(parents=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # every JVM (the launcher and the driver) keeps its temporary files in
    # the checkout, and writes no perf-data file, which goes to /tmp
    # whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    # 1 GB holds this scale's working set; a heap that reaches its cap
    # early also keeps peak RSS and timings from depending on when the JVM
    # decides to grow it (fresh heap pages are faulted in and zeroed)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def run_workload(name: str, ctx: Context) -> dict:
    from perfbench import datagen

    if name in ("relational", "pipeline"):
        from perfbench.batch import PIPELINE, RELATIONAL, BatchRun

        names = RELATIONAL if name == "relational" else PIPELINE
        datagen.write_tables(ctx.data_dir, ctx.seed, SCALE)
        ctx.rss.start()
        setup_t0 = time.perf_counter()
        ctx.start_spark()
        ctx.import_registry()
        missing = [n for n in names if n not in ctx.specs]
        if missing:
            raise SystemExit(f"queries not registered: {missing}")
        run = BatchRun(ctx, names)
        ctx.tracer.instrument(lambda: run.phase)
        return run.run(ctx.seconds, setup_t0)
    from perfbench.stream import run_alert_stream

    return run_alert_stream(ctx)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # import the benchmark as the ``perfbench`` package, never its modules
    # as top-level names (``python3 perfbench/run.py`` puts this directory
    # first on the path)
    here = Path(__file__).resolve().parent
    sys.path[:] = [p for p in sys.path if Path(p or ".").resolve() != here]
    sys.path.insert(0, str(ROOT))
    try:
        import flink_cookbook_spark  # noqa: F401  (the program under test)
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    from perfbench.tracing import RssSampler, Tracer

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    _prepare_env(WORK)
    tracer = Tracer(args.trace == 1, run_id)
    rss = RssSampler()
    ctx = Context(args, tracer, rss, WORK)
    try:
        res = run_workload(args.workload, ctx)
    finally:
        rss.stop()
        ctx.stop_spark()
    res["peak_rss_mb"] = rss.peak_bytes / 2**20
    record = {"run": run_id, "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              **{k: res[k] for k in END_TO_END}, **res["record"]}
    if tracer.enabled:
        from perfbench.layers import layer_metrics

        values = layer_metrics(ctx, res)
        units = PER_LAYER
        tracer.write(str(OUT / f"{run_id}.spans.jsonl"))
        record["layers"] = values
    else:
        values, units = res, END_TO_END
    # a run whose operations all failed has no timings; it prints 0s and
    # fails on ``correct`` instead of printing NaN, which is not JSON
    metrics = {k: {"value": _finite(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    OUT.mkdir(exist_ok=True)
    (OUT / f"{run_id}.json").write_text(json.dumps(record, indent=1, default=str))
    print(json.dumps(record["failures"] or {}, default=str), file=sys.stderr)
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
