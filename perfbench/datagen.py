"""Seeded input generators for the benchmark.

``write_tables`` writes the ten catalog tables (TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``) as one parquet file each, with
the schemas and value domains that ``flink_cookbook_spark.catalog`` and the
registered queries expect. ``StreamFiles`` renders the node-metric JSON-lines
files of the alert stream. Both depend only on their seed and size
arguments, so the same seed gives byte-identical inputs.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()

DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every catalog table for scale ``sf`` (lineitem ~ 6M x sf rows)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_events = max(1_000, int(1_000_000 * sf))
    n_docs, n_vecs, dim = 500, 500, 64

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })
    days = 2_404  # 1995-01-01 .. 2001-08-01
    o_date = EPOCH_1995_US + rng.integers(0, days, n_ord) * DAY_US
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_lineno = (np.arange(n_li) - starts + 1).astype(np.int32)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(l_lineno),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(
            EPOCH_1995_US + rng.integers(1, days + 95, n_li) * DAY_US, pa.timestamp("us")
        ),
    })
    ts = EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, n_events))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2) + 0.01),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)]),
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n_words)]))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


#: hour-of-day load factor of the reference generator (FIXTURES.md A4)
def _hour_factor(hour: np.ndarray) -> np.ndarray:
    return np.select(
        [hour < 6, hour < 9, hour < 17, hour < 22], [0.4, 0.6, 1.2, 0.8], 0.5
    )


#: how far behind its file a late sample is. Spark drops a row as late when
#: it is older than the watermark of the batch before the one reading it;
#: when batches take several files each, that watermark trails the file by
#: more than an hour, so a sample a day behind is late in every batch.
LATE_MS = 86_400_000


@dataclass
class StreamFile:
    """One rendered metrics file and what it injects."""

    index: int
    text: str
    malformed: int
    late: int


class StreamFiles:
    """Node-cpu JSON-lines files: ``n_nodes`` nodes, one sample per node per
    minute, ``minutes_per_file`` minutes of event time per file.

    Per-node base U(30,70), hour-of-day factor, U(-5,5) noise and a 1%
    spike of +U(30,50), clamped to [0, 100] (FIXTURES.md A4). A share of
    lines is malformed (bad JSON or a missing required field) and a share
    of extra samples arrives a day behind the file's event time. Files
    before ``late_from`` carry no late samples: the micro-batch that reads
    them may have no watermark yet, so a late sample would not be late to
    Spark.
    ``records`` keeps every valid on-time sample for the batch twin.
    """

    def __init__(
        self,
        seed: int,
        n_nodes: int,
        t0_ms: int,
        minutes_per_file: int = 5,
        malformed_rate: float = 0.005,
        late_rate: float = 0.005,
        late_from: int = 0,
    ) -> None:
        self.seed = seed
        self.n_nodes = n_nodes
        self.t0_ms = t0_ms
        self.minutes = minutes_per_file
        self.malformed_rate = malformed_rate
        self.late_rate = late_rate
        self.late_from = late_from
        self.base = np.random.default_rng([seed, 0]).uniform(30.0, 70.0, n_nodes)
        self.records: list[tuple[int, int, float]] = []  # (node, event ms, cpu)

    def _cpu(self, rng: np.random.Generator, ts_ms: np.ndarray) -> np.ndarray:
        hour = (ts_ms // 3_600_000) % 24
        n = len(ts_ms)
        cpu = self.base[np.arange(n) % self.n_nodes] * _hour_factor(hour)
        cpu = cpu + rng.uniform(-5.0, 5.0, n)
        spike = rng.random(n) < 0.01
        cpu = cpu + np.where(spike, rng.uniform(30.0, 50.0, n), 0.0)
        return np.round(np.clip(cpu, 0.0, 100.0), 3)

    def render(self, index: int) -> StreamFile:
        rng = np.random.default_rng([self.seed, 1, index])
        nodes = np.tile(np.arange(self.n_nodes), self.minutes)
        minute = np.repeat(np.arange(self.minutes), self.n_nodes)
        ts_ms = self.t0_ms + (index * self.minutes + minute) * 60_000
        cpu = self._cpu(rng, ts_ms)
        lines = [
            f'{{"node_id": "{n}", "cpu_utilization": {c!r}, "timestamp": {t}}}'
            for n, c, t in zip(nodes.tolist(), cpu.tolist(), ts_ms.tolist())
        ]
        self.records.extend(zip(nodes.tolist(), ts_ms.tolist(), cpu.tolist()))
        late = 0
        if index >= self.late_from:
            # one late sample per node at most: they all fall in one window,
            # so each is its own (node, window) group and partial
            # aggregation cannot merge two of them before the state
            # operator counts them as dropped
            late = min(int(rng.binomial(len(lines), self.late_rate)), self.n_nodes)
            pick = rng.choice(self.n_nodes, late, replace=False)
            for p in pick.tolist():
                lines.append(
                    f'{{"node_id": "{nodes[p]}", "cpu_utilization": 99.0, '
                    f'"timestamp": {ts_ms[p] - LATE_MS}}}'
                )
        malformed = int(rng.binomial(len(lines), self.malformed_rate))
        for k in range(malformed):
            if k % 2:
                lines.append('{"node_id": "7", "cpu_utilization": ')
            else:
                lines.append(f'{{"cpu_utilization": 50.0, "timestamp": {ts_ms[0]}}}')
        order = rng.permutation(len(lines))
        text = "\n".join(lines[i] for i in order) + "\n"
        return StreamFile(index, text, malformed, late)
