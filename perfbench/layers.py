"""Per-layer metrics of a traced run, from its spans, counters, Spark event
log and streaming progress records. Batch figures are per timed pass;
memo builds are those of the warm-up pass, which belongs to set-up."""

from __future__ import annotations

import statistics

from perfbench.tracing import event_log_totals

EVENT_KEYS = (
    "shuffle.read_bytes", "shuffle.write_bytes", "spill.bytes", "gc.s",
    "python.total_ms", "python.boot_ms", "python.bytes_sent", "python.bytes_received",
)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _sum_groups(totals: dict, match) -> dict[str, float]:
    out: dict[str, float] = {}
    for group, vals in totals.items():
        if match(group):
            for k, v in vals.items():
                out[k] = out.get(k, 0.0) + v
    return out


def _stream_stage(progress: list[dict], prefix: str) -> dict[str, float]:
    def dur(key):
        return _median(p["durationMs"].get(key, 0) for p in progress)

    ops = [op for p in progress for op in p.get("stateOperators", [])]
    busy = [p for p in progress if p["numInputRows"] > 0]
    return {
        f"{prefix}.batches": len(progress),
        f"{prefix}.empty_batches": len(progress) - len(busy),
        f"{prefix}.useful_batch_ratio": len(busy) / len(progress) if progress else 0.0,
        f"{prefix}.batch_p50_ms": dur("triggerExecution"),
        f"{prefix}.addBatch_ms": dur("addBatch"),
        f"{prefix}.latestOffset_ms": dur("latestOffset"),
        f"{prefix}.queryPlanning_ms": dur("queryPlanning"),
        f"{prefix}.walCommit_ms": dur("walCommit"),
        f"{prefix}.state_rows": max((op.get("numRowsTotal", 0) for op in ops), default=0),
        f"{prefix}.state_bytes": max((op.get("memoryUsedBytes", 0) for op in ops), default=0),
        f"{prefix}.late_dropped": sum(op.get("numRowsDroppedByWatermark", 0) for op in ops),
    }


def _event_layers(ev: dict[str, float], per: float) -> dict[str, float]:
    out = {k: ev.get(k, 0.0) / per for k in EVENT_KEYS}
    out["python.total_s"] = out.pop("python.total_ms") / 1000.0
    out["python.boot_s"] = out.pop("python.boot_ms") / 1000.0
    return out


def layer_metrics(ctx, res: dict) -> dict[str, float]:
    tr = ctx.tracer
    out: dict[str, float] = dict(ctx.layers)
    out.update({f"traced.{k}": res[k] for k in ("setup_s", "sweep_s", "op_geomean_s",
                                                "op_p50_s", "op_p75_s", "peak_rss_mb")})
    totals = event_log_totals(str(ctx.work / "eventlog"))
    stream = ctx.stream
    if stream is None:
        passes = float(res["record"]["passes"])
        c = tr.counts
        build = _sum_groups(totals, lambda g: g.startswith("pb:timed:build:"))
        execs = _sum_groups(totals, lambda g: g.startswith("pb:timed:exec:"))
        timed = _sum_groups(totals, lambda g: g.startswith("pb:timed:"))
        out.update({
            "catalog.load_calls": c.get("catalog.load_calls@timed", 0) / passes,
            "catalog.load_s": tr.total("catalog.load", "timed") / passes,
            "build.s": tr.total("build", "timed") / passes,
            "build.eager_jobs": build.get("jobs", 0) / passes,
            "exec.s": tr.total("exec", "timed") / passes,
            "exec.jobs": execs.get("jobs", 0) / passes,
            "exec.stages": execs.get("stages", 0) / passes,
            "exec.tasks": execs.get("tasks", 0) / passes,
            "memo.builds": c.get("memo.builds@warm", 0),
            "memo.build_s": tr.total("memo.build", "warm"),
            "memo.hits": c.get("memo.hits@timed", 0) / passes,
            "memo.timed_builds": c.get("memo.builds@timed", 0),
            **{f"plan.{ph}_ms": c.get(f"plan.{ph}_ms@timed", 0) / passes
               for ph in ("analysis", "optimization", "planning")},
            **_event_layers(timed, passes),
        })
        return out
    # Structured Streaming runs each micro-batch's jobs in a job group named
    # after the query's run id: this keeps out the warm-up topology and the
    # verification jobs
    everything = _sum_groups(totals, lambda g: g in stream["run_ids"])
    s1 = _stream_stage(stream["p1"], "stream.s1")
    s2 = _stream_stage(stream["p2"], "stream.s2")
    pub = stream["pub"]
    out.update({
        "exec.jobs": everything.get("jobs", 0),
        "exec.stages": everything.get("stages", 0),
        "exec.tasks": everything.get("tasks", 0),
        **_event_layers(everything, 1.0),
        **{k: v for k, v in s1.items() if not k.endswith(("empty_batches", "useful_batch_ratio"))},
        **{k: v for k, v in s2.items() if not k.endswith(("latestOffset_ms", "queryPlanning_ms",
                                                           "walCommit_ms", "late_dropped"))},
        "parse.dropped": stream["parse_dropped"],
        "gen.late_max_s": stream["late_max_s"],
        "gen.files": len(pub.lines),
        "gen.backlog_end_files": stream["backlog_end_files"],
    })
    return out
