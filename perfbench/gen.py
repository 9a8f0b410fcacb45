"""Seeded input generators for the benchmark.

``write_tables`` writes the engine's ten parquet tables (the TPC-H-ish
star schema plus ``events``, ``documents`` and ``embeddings``) with the
column names, types and value domains of the engine's test corpora, so
every registry builder and its DuckDB oracle run unchanged on them.
``RsvpGenerator`` makes Meetup RSVP records for the streaming workload
and keeps the ground truth the stream outputs are checked against.

The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
_PART_NOUN = ["bolt", "gear", "gizmo", "plate", "ring", "rod", "widget", "nut"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EMBED_DIM = 64
_N_DOCS = 500
_N_VECS = 500
_DOC_TEXT_SEED = 20_240_101

_US = np.datetime64("1970-01-01T00:00:00", "us")


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _days(start: str, n_days: int, rng, size: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (lineitem ≈ 6,000,000·sf)."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_events = max(200, int(1_000_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    part_price = np.round(900.0 + (np.arange(n_part) % 200) * 0.1, 2)
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part)
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": part_price,
        }
    )
    order_date = _days("1995-01-01", 2404, rng, n_ord)
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(order_date),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_line = len(l_order)
    l_number = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    l_part = rng.integers(0, n_part, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship = np.repeat(order_date, lines) + rng.integers(1, 122, n_line).astype(
        "timedelta64[D]"
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": l_part,
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": l_number,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * part_price[l_part] * 2.3, 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _ts(ship),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ev_ts = np.sort(rng.integers(0, month_us, n_events)) + (
        np.datetime64("2024-01-01T00:00:00", "us") - _US
    ).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts(_US + ev_ts.astype("timedelta64[us]")),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def _documents(rng) -> pa.Table:
    # The texts are the same for every seed: with a 30-word vocabulary
    # the near-duplicate graph (and so the number of label-propagation
    # rounds dedup runs) depends on them, and a seed must not change
    # how much work the corpus workload does. The seed draws the row
    # order and the lang column.
    fixed = np.random.default_rng(_DOC_TEXT_SEED)
    texts = [
        " ".join(fixed.choice(_WORDS, int(fixed.integers(10, 100))))
        for _ in range(_N_DOCS)
    ]
    # 5% near-duplicates: another document's text plus one marker token
    for i in fixed.choice(_N_DOCS, _N_DOCS // 20, replace=False):
        src = int(fixed.integers(0, _N_DOCS))
        if src != i:
            texts[i] = texts[src] + " dup"
    rows = rng.permutation(_N_DOCS)
    return pa.table(
        {
            "doc_id": rows.astype(np.int64),
            "text": [texts[i] for i in rows],
            "lang": rng.choice(_LANGS, _N_DOCS, p=_LANG_P),
            "source": [f"src{i % 20}" for i in rows],
            "n_chars": np.array([len(texts[i]) for i in rows], dtype=np.int64),
        }
    )


def _embeddings(rng) -> pa.Table:
    labels = rng.integers(0, 10, _N_VECS)
    centers = rng.normal(0.0, 1.0, (10, _EMBED_DIM))
    vecs = rng.normal(0.0, 1.0, (_N_VECS, _EMBED_DIM)) + 0.15 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(_N_VECS, dtype=np.int64),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": labels.astype(np.int32),
        }
    )


def write_tables(seed: int, sf: float, out_dir: str) -> None:
    """Write every table as ``out_dir/<name>.parquet``."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")


# ---------------------------------------------------------------- RSVP

# skewed city/state domain: a few metros carry most of the traffic
_CITIES = [
    ("New York", "NY"), ("San Francisco", "CA"), ("Austin", "TX"),
    ("Chicago", "IL"), ("Seattle", "WA"), ("Boston", "MA"),
    ("Denver", "CO"), ("Bend", "OR"), ("Miami", "FL"), ("Atlanta", "GA"),
    ("Saipan", "MP"), ("Nome", "AK"), ("Nowhere", "ZZ"),
]
_FOREIGN = [("London", "gb"), ("Paris", "fr"), ("Berlin", "de")]
US_SHARE = 0.8
DUP_SHARE = 0.05


class RsvpGenerator:
    """Seeded RSVP envelopes with ground truth.

    Every record's envelope ``timestamp`` is its creation time, the
    Kafka-ingest-time semantics Q3 windows on. ``DUP_SHARE`` of the
    records re-send an earlier ``rsvp_id`` (a duplicate delivery).
    """

    def __init__(self, seed: int, n_groups: int = 40):
        self._rng = np.random.default_rng(seed + 7919)
        self._next_id = 1
        self._sent_ids: list[int] = []
        self.n_groups = n_groups
        w = 1.0 / np.arange(1, len(_CITIES) + 1) ** 1.2
        self._city_p = w / w.sum()
        g = 1.0 / np.arange(1, n_groups + 1)
        self._group_p = g / g.sum()
        # ground truth
        self.records: list[tuple[int, int, float, int]] = []  # ts_us, id, guests, group
        self.n_rows = 0
        self.n_us = 0
        self.n_q2 = 0

    def make(self, n: int, created: datetime) -> list[tuple[str, str]]:
        """``n`` envelopes, all created at ``created``, one microsecond
        apart so event-time order is total."""
        rng = self._rng
        base_us = int(created.timestamp() * 1_000_000)
        rows = []
        for j in range(n):
            if self._sent_ids and rng.random() < DUP_SHARE:
                rid = self._sent_ids[int(rng.integers(0, len(self._sent_ids)))]
            else:
                rid = self._next_id
                self._next_id += 1
                self._sent_ids.append(rid)
            if rng.random() < US_SHARE:
                city, state = _CITIES[int(rng.choice(len(_CITIES), p=self._city_p))]
                country = "us"
            else:
                (city, country), state = _FOREIGN[int(rng.integers(0, 3))], None
            group = int(rng.choice(self.n_groups, p=self._group_p))
            guests = int(rng.integers(0, 3)) if rng.random() < 0.9 else int(
                rng.integers(5, 12)
            )
            ts_us = base_us + j
            value = {
                "response": "yes",
                "guests": guests,
                "rsvp_id": rid,
                "mtime": ts_us // 1000,
                "event": {
                    "event_name": f"event {group}",
                    "event_id": f"e{group}",
                    "time": ts_us // 1000,
                    "event_url": f"https://example.test/e{group}",
                },
                "group": {
                    "group_city": city,
                    "group_country": country,
                    "group_id": group,
                    "group_name": f"group-{group}",
                    "group_state": state,
                },
            }
            secs, micros = divmod(ts_us, 1_000_000)
            ts = datetime.fromtimestamp(secs, timezone.utc).strftime(
                f"%Y-%m-%d %H:%M:%S.{micros:06d}"
            )
            rows.append((json.dumps(value), ts))
            self.records.append((ts_us, rid, float(guests), group))
            self.n_rows += 1
            if country == "us":
                self.n_us += 1
                if state != "ZZ":
                    self.n_q2 += 1
        return rows

    def distinct_ids(self) -> int:
        return len({r[1] for r in self.records})

    def ewma_spikes(self) -> list[tuple]:
        """``ewma_spike_step`` folded over each group's records in
        (ts, id) order — the rows ``stream_ewma_spikes`` must emit, each
        once, sorted."""
        import math

        from big_data_2021_spark_streaming_spark.streaming.pipeline import (
            ewma_spike_step,
        )

        hist: dict[int, list[int]] = {}
        out = []
        for ts_us, rid, v, group in sorted(self.records):
            vq = int(math.floor(abs(v) * 1e6 + 0.5)) * (1 if v >= 0 else -1)
            res, hist[group] = ewma_spike_step(hist.get(group, []), vq)
            if res is not None:
                out.append((group, rid, v, res[0], res[1]))
        return sorted(out)
