"""Tracing for the benchmark's traced run, and the always-on RSS sampler.

``Tracer`` keeps spans (name, start, end, parent, run id) and counters in
memory and writes them out once, at exit. With tracing off every method is
a no-op, so the untraced run pays nothing. ``Tracer.instrument`` wraps the
package's public entry points (``catalog.load`` and ``_cache.memo_persist``)
wherever a module of the package holds a reference to them; the benchmark's
own code opens the spans around ``get_spark``, the registry import, query
builds and actions.

``event_log_totals`` reads the Spark event log of a traced run and sums
job, stage and task counts, shuffle, spill, GC and the Python-worker SQL
metrics per job group.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[name] += value

    def total(self, name: str, phase: str | None = None) -> float:
        """Summed duration (s) of the outermost spans called ``name``
        (a nested span of the same name is already inside its parent's),
        optionally only those tagged with ``phase``."""

        def nested(s) -> bool:
            p = s["parent"]
            while p is not None:
                if self.spans[p]["name"] == name:
                    return True
                p = self.spans[p]["parent"]
            return False

        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None
            and (phase is None or s.get("phase") == phase) and not nested(s)
        )

    def instrument(self, phase_of) -> None:
        """Wrap ``catalog.load`` and ``_cache.memo_persist`` in every loaded
        module of the package. ``phase_of()`` names the benchmark phase a
        call falls in (warm-up, timed, verify)."""
        if not self.enabled:
            return
        from flink_cookbook_spark import catalog
        from flink_cookbook_spark.pipeline import _cache

        orig_load = catalog.load
        orig_memo = _cache.memo_persist
        tracer = self

        def load(spark, sf_dir, name):
            phase = phase_of()
            tracer.add(f"catalog.load_calls@{phase}")
            with tracer.span("catalog.load", table=name, phase=phase):
                return orig_load(spark, sf_dir, name)

        def memo_persist(spark, kind, sf_dir, build):
            phase = phase_of()
            built = []

            def traced_build():
                built.append(True)
                with tracer.span("memo.build", kind=kind, phase=phase):
                    return build()

            with tracer.span("memo.persist", kind=kind, phase=phase):
                out = orig_memo(spark, kind, sf_dir, traced_build)
            tracer.add(f"memo.builds@{phase}" if built else f"memo.hits@{phase}")
            return out

        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("flink_cookbook_spark"):
                continue
            for attr, orig, new in (("load", orig_load, load),
                                    ("memo_persist", orig_memo, memo_persist)):
                if getattr(mod, attr, None) is orig:
                    setattr(mod, attr, new)

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **s}) + "\n")


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark driver JVM and its Python workers), sampled from /proc in one
    thread between ``start`` and ``stop``: from the start of set-up to the
    end of the timed phase, so the correctness checks that follow do not
    count. Python processes count their proportional set size, so pages
    that forked workers share with the daemon count once, not once per
    worker alive at the sampling instant. The JVM shares nothing with them
    and counts its RSS: its smaps take ~25 ms to read, under its mmap
    lock."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = defaultdict(list)
        java: set[int] = set()
        for stat in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(stat) as fh:
                    text = fh.read()
            except OSError:
                continue
            pid = int(text.split(" ", 1)[0])
            children[int(text.rsplit(")", 1)[1].split()[1])].append(pid)
            if text.split(" (", 1)[1].startswith("java)"):
                java.add(pid)
        total = 0
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                if pid in java:
                    with open(f"/proc/{pid}/statm") as fh:
                        total += int(fh.read().split()[1]) * self._page
                    continue
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        """End sampling; safe to call more than once, or before ``start``."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()


PY_METRICS = {
    "time to run Python workers": "python.total_ms",
    "time to start Python workers": "python.boot_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


def event_log_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks, shuffle read/write bytes, spilled
    bytes, GC seconds and the Python-worker SQL metrics."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                    out[group]["jobs"] += 1
                    for st in e.get("Stage Infos", []):
                        stage_group[st["Stage ID"]] = group
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(e["Stage Info"]["Stage ID"], "none")
                    out[group]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = out[stage_group.get(e["Stage ID"], "none")]
                    g["tasks"] += 1
                    tm = e.get("Task Metrics") or {}
                    rd = tm.get("Shuffle Read Metrics") or {}
                    wr = tm.get("Shuffle Write Metrics") or {}
                    g["shuffle.read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    g["shuffle.write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    g["spill.bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    g["gc.s"] += tm.get("JVM GC Time", 0) / 1000.0
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        key = PY_METRICS.get(acc.get("Name"))
                        if key is not None:
                            g[key] += float(acc.get("Update") or 0)
    return out
