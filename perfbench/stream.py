"""The alert_stream workload: the CLI's two-query topology over JSON files.

Stage 1 reads JSON-lines files (``readStream.text``) through
``sources.parse_metrics`` and ``recipes.windowed_avg_stream`` into a parquet
intermediate (``recipes.to_sink``); stage 2 reads that intermediate through
``recipes.alerts_stream`` (``sarimax`` state per node in
``applyInPandasWithState``) into a parquet alert sink.

Set-up runs the same topology once over a few warm-up files (JIT, codegen,
Python workers) and then starts the measured queries.
Phase 1 (catch-up): the backlog present at start drains through both stages.
Phase 2 (live): one generator thread publishes a file every
``LIVE_INTERVAL_S`` (open loop, write-then-rename), whatever the system's
speed, for the run's seconds and at least ``MIN_LIVE_FILES`` files. A live
phase whose stage-1 backlog grows is over capacity and fails the run: its
latency would measure a queue, not the topology. Each 5-minute
file advances the 10-minute watermark by exactly one window, so file k
closes window k-3; its latency sample runs from the file's due time to the
end of the stage-2 micro-batch that consumed that window, read from the
progress records and the batch's observed max ``window_start``.

The run then drains, stops both queries and checks the outputs against a
batch twin of the generated valid, on-time samples.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import statistics
import threading
import time
from pathlib import Path

import numpy as np
import pandas as pd

from perfbench.datagen import StreamFiles

N_NODES = 50
WARMUP_FILES = 4
BACKLOG_FILES = 12
#: one 250-event file every 0.2 s (1,250 events/s), whatever ``--seconds``
#: is. The topology keeps up: each stage-1 micro-batch takes the ~8 files
#: that arrived during the last one and the backlog stays level. At ten
#: times this rate stage-1 batches of 8k-24k rows still took 1.9-2.7 s.
LIVE_INTERVAL_S = 0.2
#: 40 samples leave 10 beyond p75
MIN_LIVE_FILES = 40
#: over capacity: the stage-1 backlog grows by more than this many files
#: between the middle and the last third of the live phase (13 files each
#: at 40 live files), that is, stage 1 reads less than about half of what
#: arrives. Over ten seeds at the live rate it moved by -2 to +3 files;
#: with stage 1 slowed to a third of the rate (the ``overload`` fault) it
#: grew by 14.
GROWTH_LIMIT_FILES = 6
WINDOW_S = 300
WATERMARK_S = 600
T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def _ms(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def _batch_end_s(p: dict) -> float:
    return (_ms(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0)) / 1000.0


class Publisher:
    """Writes files atomically into the source directory and stamps them."""

    def __init__(self, gen: StreamFiles, in_dir: str, extra_malformed: bool) -> None:
        self.gen = gen
        self.in_dir = in_dir
        self.extra_malformed = extra_malformed
        self.lines: list[int] = []
        self.malformed = 0
        self.late = 0
        self.due: dict[int, float] = {}
        self.published: dict[int, float] = {}

    def publish(self, index: int, due: float | None = None, mtime: float | None = None) -> None:
        f = self.gen.render(index)
        text = f.text
        if self.extra_malformed and index == 1:
            text += "{not json\n"  # injected but not counted
        tmp = os.path.join(self.in_dir, f".tmp-{index:05d}")
        with open(tmp, "w") as fh:
            fh.write(text)
        if mtime is not None:
            os.utime(tmp, (mtime, mtime))
        os.rename(tmp, os.path.join(self.in_dir, f"m-{index:05d}.json"))
        self.published[index] = time.time()
        if due is not None:
            self.due[index] = due
        self.lines.append(text.count("\n"))
        self.malformed += f.malformed
        self.late += f.late


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _observed(p: dict, name: str, key: str):
    return ((p.get("observedMetrics") or {}).get(name) or {}).get(key)


def backlog_at_publish(pub: Publisher, p1: list[dict]) -> list[int]:
    """Stage-1 backlog at each live file's publication: files published so
    far whose lines no completed stage-1 micro-batch has read yet."""
    ends = sorted((_batch_end_s(p), p["numInputRows"]) for p in p1)
    cum_lines = np.cumsum(pub.lines)
    out = []
    for k in sorted(pub.due):
        read = sum(rows for end, rows in ends if end <= pub.published[k])
        out.append(int((cum_lines[: k + 1] > read).sum()))
    return out


def backlog_growth(backlog: list[int]) -> float:
    """Median backlog over the last third of the live files minus that over
    the middle third (the first third holds the ramp-up from an empty
    queue). Below capacity each micro-batch takes what arrived during the
    last one and the backlog saws up and down about a level; above it, the
    backlog grows by up to one file per file published."""
    third = len(backlog) // 3
    return float(statistics.median(backlog[-third:]) - statistics.median(backlog[third:2 * third]))


def window_closed_by(k: int) -> int:
    """Start (epoch s) of the window that file k closes: its samples move the
    watermark to WATERMARK_S before the file's last minute."""
    return (T0_MS // 1000) + (k - WATERMARK_S // WINDOW_S - 1) * WINDOW_S


def consumed_s2(progress: list[dict], window_start_s: int) -> float | None:
    """End time of the first stage-2 batch that read ``window_start_s``."""
    for p in progress:
        mx = _observed(p, "s2in", "max_ws")
        if mx is not None and mx >= window_start_s:
            return _batch_end_s(p)
    return None


def wait_consumed(q2, k: int) -> float:
    """Block until stage 2 has consumed the window file k closes."""
    deadline, seen = time.time() + 120, None
    while time.time() < deadline:
        time.sleep(0.05)
        last = q2.lastProgress
        if last is not None and last.batchId != seen:
            seen = last.batchId
            done = consumed_s2(_progress(q2), window_closed_by(k))
            if done is not None:
                return done
    raise RuntimeError(f"stage 2 did not consume file {k}'s window within 120 s")


def start_topology(spark, root: Path, slow_s_per_row: float = 0.0):
    """Start both queries over ``root``/in; return them and the output dirs.
    ``slow_s_per_row`` > 0 makes stage 1 sleep that long per parsed row (the
    ``overload`` fault: capacity below the offered rate)."""
    from pyspark.sql import functions as F

    from flink_cookbook_spark.streaming import recipes
    from flink_cookbook_spark.streaming.sources import parse_metrics

    raw = spark.readStream.text(str(root / "in")).observe("raw", F.count(F.lit(1)).alias("n"))
    parsed = parse_metrics(raw).observe("parsed", F.count(F.lit(1)).alias("n"))
    if slow_s_per_row:
        def slow(batches):
            for pdf in batches:
                time.sleep(len(pdf) * slow_s_per_row)
                yield pdf

        parsed = parsed.mapInPandas(slow, parsed.schema)
    windowed = recipes.windowed_avg_stream(parsed).select(
        F.col("user_id").cast("long").alias("user_id"),
        "window_start", "avg_value", "n_events",
    )
    inter_dir, alert_dir = str(root / "inter"), str(root / "alerts")
    q1 = recipes.to_sink(windowed, fmt="parquet", query_name=f"{root.name}_stage1",
                         checkpoint=str(root / "cp1"), path=inter_dir)
    s2_src = (
        spark.readStream.schema("user_id long, window_start long, avg_value double, n_events long")
        .parquet(inter_dir)
        .observe("s2in", F.count(F.lit(1)).alias("n"), F.max("window_start").alias("max_ws"))
    )
    q2 = recipes.to_sink(recipes.alerts_stream(s2_src), fmt="parquet",
                         query_name=f"{root.name}_stage2", checkpoint=str(root / "cp2"),
                         path=alert_dir)
    return q1, q2, inter_dir, alert_dir


def run_alert_stream(ctx) -> dict:
    roots = {name: ctx.work / name for name in ("warmup", "stream")}
    for root in roots.values():
        for d in ("in", "inter", "alerts"):
            os.makedirs(root / d)
    live_files = max(MIN_LIVE_FILES, round(ctx.seconds / LIVE_INTERVAL_S))
    # 10 ms a row: 400 rows/s on 4 cores against 1,250 offered
    slow_s_per_row = 0.01 if ctx.fault == "overload" else 0.0
    warm = Publisher(StreamFiles(ctx.seed + 1, N_NODES, T0_MS), str(roots["warmup"] / "in"), False)
    gen = StreamFiles(ctx.seed, N_NODES, T0_MS, late_from=BACKLOG_FILES)
    pub = Publisher(gen, str(roots["stream"] / "in"), ctx.fault == "extra_malformed")
    base_mtime = time.time() - BACKLOG_FILES
    for k in range(WARMUP_FILES):
        warm.publish(k, mtime=base_mtime + k)
    for k in range(BACKLOG_FILES):
        pub.publish(k, mtime=base_mtime + k)

    tr = ctx.tracer
    ctx.rss.start()
    setup_t0 = time.perf_counter()
    ctx.start_spark()
    ctx.import_registry()
    spark = ctx.spark
    # warm-up: a throwaway run of the same topology pays JIT, codegen and
    # Python worker start, which a long-running stream pays once
    with tr.span("stream.warmup"):
        w1, w2, _, _ = start_topology(spark, roots["warmup"])
        wait_consumed(w2, WARMUP_FILES - 1)
        w1.stop()
        w2.stop()
    with tr.span("stream.start"):
        q1, q2, inter_dir, alert_dir = start_topology(spark, roots["stream"], slow_s_per_row)
    started = time.time()
    setup_s = time.perf_counter() - setup_t0

    # phase 1: catch-up of the backlog that was there when the queries started
    with tr.span("stream.catchup"):
        sweep_s = wait_consumed(q2, BACKLOG_FILES - 1) - started
    backlog_events = N_NODES * gen.minutes * BACKLOG_FILES

    # phase 2: live, open loop, one generator thread
    errors: list[BaseException] = []

    def generate() -> None:
        try:
            t_start = time.time() + LIVE_INTERVAL_S
            for i in range(live_files):
                k = BACKLOG_FILES + i
                due = t_start + i * LIVE_INTERVAL_S
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                pub.publish(k, due=due)
        except BaseException as exc:  # surfaced by the main thread
            errors.append(exc)

    with tr.span("stream.live"):
        gen_thread = threading.Thread(target=generate, name="perfbench-generator")
        gen_thread.start()
        gen_thread.join()
        if errors:
            raise errors[0]
    with tr.span("stream.drain"):
        q1.processAllAvailable()
        q2.processAllAvailable()
        # the last data batch moved the watermark; run the no-data batches
        # that close its windows and feed them through stage 2
        q1.processAllAvailable()
        q2.processAllAvailable()
    p1, p2 = _progress(q1), _progress(q2)
    q1.stop()
    q2.stop()
    ctx.rss.stop()

    latencies, missing = [], 0
    for k, due in sorted(pub.due.items()):
        end = consumed_s2(p2, window_closed_by(k))
        if end is None:
            missing += 1
        else:
            latencies.append(end - due)

    parse_dropped = sum(
        (_observed(p, "raw", "n") or 0) - (_observed(p, "parsed", "n") or 0) for p in p1
    )
    with tr.span("stream.verify"):
        t0 = time.perf_counter()
        gates = check_stream(ctx, pub, gen, p1, parse_dropped, inter_dir, alert_dir)
        verify_s = time.perf_counter() - t0
    failures = {g: msg for g, msg in gates.items() if msg}
    if missing:
        failures["latency"] = f"{missing} live files never reached stage 2"
    q = statistics.quantiles(latencies, n=4) if len(latencies) > 1 else [math.nan] * 3
    lateness = [pub.published[k] - d for k, d in pub.due.items()]
    backlog = backlog_at_publish(pub, p1)
    growth = backlog_growth(backlog)
    if growth > GROWTH_LIMIT_FILES:
        failures["over_capacity"] = (
            f"stage-1 backlog grew by {growth:g} files over the live phase: the offered "
            "rate is above capacity, so latency would measure the queue"
        )
    ctx.stream = {"p1": p1, "p2": p2, "pub": pub, "backlog_end_files": backlog[-1],
                  "run_ids": {str(q1.runId), str(q2.runId)},
                  "parse_dropped": parse_dropped,
                  "late_max_s": max(lateness) if lateness else 0.0}
    return {
        "setup_s": setup_s,
        "sweep_s": sweep_s,
        "op_geomean_s": math.exp(sum(math.log(x) for x in latencies) / len(latencies))
        if latencies and min(latencies) > 0 else math.nan,
        "op_p50_s": q[1],
        "op_p75_s": q[2],
        "attempted": len(pub.lines),
        "failed": len(failures),
        "record": {
            "stream_eps": backlog_events / sweep_s,
            "latency_samples": len(latencies),
            "latencies_s": latencies,
            "live_interval_s": LIVE_INTERVAL_S,
            "gen_late_max_s": ctx.stream["late_max_s"],
            "backlog_growth_files": growth,
            "backlog_files": backlog,
            "s1_batches_rows_ms": [(p["numInputRows"], p["durationMs"].get("triggerExecution"))
                                   for p in p1],
            "s2_batches_rows_ms": [(p["numInputRows"], p["durationMs"].get("triggerExecution"))
                                   for p in p2],
            "injected_malformed": pub.malformed,
            "injected_late": pub.late,
            "verify_s": verify_s,
            "failures": failures,
        },
    }


def check_stream(ctx, pub: Publisher, gen: StreamFiles, p1, dropped: int,
                 inter_dir: str, alert_dir: str) -> dict:
    """Correctness gates; each maps to an error message or ''."""
    from flink_cookbook_spark.streaming import recipes
    from flink_cookbook_spark.streaming.sarimax import FIXTURE_CONFIG, baseline_batch

    spark = ctx.spark
    out: dict[str, str] = {}
    out["parse_dropped"] = (
        "" if dropped == pub.malformed
        else f"parse dropped {dropped} rows, generator injected {pub.malformed} malformed"
    )
    late = sum(op.get("numRowsDroppedByWatermark", 0)
               for p in p1 for op in p.get("stateOperators", []))
    out["late_dropped"] = (
        "" if late == pub.late
        else f"watermark dropped {late} rows, generator injected {pub.late} late"
    )
    wm = max(_ms(p["eventTime"]["watermark"]) for p in p1 if "watermark" in p.get("eventTime", {}))

    rec = pd.DataFrame(gen.records, columns=["user_id", "ts_ms", "cpu"])
    rec["window_start"] = (rec["ts_ms"] // (WINDOW_S * 1000)) * WINDOW_S
    closed = rec[(rec["window_start"] + WINDOW_S) * 1000 <= wm]
    twin = (
        closed.groupby(["user_id", "window_start"])["cpu"]
        .agg(avg_value="mean", n_events="count").reset_index()
    )
    inter = spark.read.parquet(inter_dir).toPandas()
    dup = int(inter.duplicated(["user_id", "window_start"]).sum())
    m = twin.merge(inter, on=["user_id", "window_start"], how="outer",
                   suffixes=("", "_s"), indicator=True)
    missing = int((m["_merge"] == "left_only").sum())
    extra = int((m["_merge"] == "right_only").sum())
    both = m[m["_merge"] == "both"]
    bad = int(((both["n_events"] != both["n_events_s"])
               | ~np.isclose(both["avg_value"], both["avg_value_s"], rtol=1e-12, atol=0)).sum())
    out["windows"] = (
        "" if not (dup or missing or extra or bad)
        else f"closed windows: {missing} missing, {dup} emitted twice, {extra} not closed, "
             f"{bad} wrong"
    )

    base = baseline_batch(spark.createDataFrame(twin[["user_id", "window_start", "avg_value"]]),
                          FIXTURE_CONFIG).toPandas()
    dev = base["observed"] - base["baseline"]
    base["pct_deviation"] = np.where(base["baseline"] >= recipes.MIN_BASELINE,
                                     dev / base["baseline"] * 100.0, 0.0)
    base["z_score"] = np.where(base["running_std"] > 0, dev / base["running_std"], 0.0)
    want = base[(base["z_score"].abs() >= recipes.Z_THRESHOLD)
                | (base["pct_deviation"].abs() >= recipes.PCT_THRESHOLD)].copy()
    want["severity"] = np.where(want["z_score"].abs() >= 2 * recipes.Z_THRESHOLD, "high", "medium")
    got = spark.read.parquet(alert_dir).toPandas()
    if ctx.fault == "drop_alert" and len(got):
        got = got.iloc[1:]
    keys = ["user_id", "window_start"]
    dup = int(got.duplicated(keys).sum())
    m = want.merge(got, on=keys, how="outer", suffixes=("", "_s"), indicator=True)
    missing = int((m["_merge"] == "left_only").sum())
    extra = int((m["_merge"] == "right_only").sum())
    both = m[m["_merge"] == "both"]
    bad = int(((both["severity"] != both["severity_s"])
               | ~np.isclose(both["baseline"], both["baseline_s"], rtol=1e-9)
               | ~np.isclose(both["z_score"], both["z_score_s"], rtol=1e-9)).sum())
    out["alerts"] = (
        "" if not (dup or missing or extra or bad) and len(want)
        else f"alerts: twin {len(want)}, {missing} missing, {dup} emitted twice, "
             f"{extra} unexpected, {bad} differ"
    )
    return out
