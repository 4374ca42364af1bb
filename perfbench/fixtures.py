"""Seeded input generation for the benchmark.

Two kinds of input, both made here and handed to the engine only as files:

* ``write_tables`` — the TPC-H-ish star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables the catalog queries read, with
  the column types, value domains and near-duplicate structure of the
  engine's reference fixtures (one parquet file, one row group per table).
  The tables are a fixed data set (seed 42), like a scale-factor fixture:
  the workload seed permutes the query order, it does not change the data.
* ``TickStream`` — finnhub-shaped JSON ticks for ``tick_stream``, derived
  entirely from the workload seed: Zipf-skewed symbols, exact duplicates,
  out-of-order (within the watermark), malformed and zero-volume messages,
  plus the ledger of distinct valid ticks the sink must end up holding.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts per scale. ``sf0.1`` matches the reference fixtures' sizes;
#: ``smoke`` (sf0.001) is for the benchmark's self-test.
SCALES = {
    "sf0.1": dict(customer=15_000, supplier=1_000, part=20_000, orders=150_000,
                  lineitem=600_000, events=100_000, users=1_500, documents=5_000,
                  embeddings=2_000),
    "smoke": dict(customer=150, supplier=10, part=200, orders=1_500,
                  lineitem=6_000, events=1_000, users=15, documents=500,
                  embeddings=500),
}
TABLE_SEED = 42
#: Bumped whenever the generated tables change, so a cached copy is rebuilt.
TABLES_VERSION = 1

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = ("a the agg batch big column customer data fast filter group hash join key "
          "line merge order part query row scan slow small sort spark stream table "
          "value vector window").split()
_LANGS = ["en", "es", "fr", "zh", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _day_ts(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, n)
    return (lo_d + days).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and u < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] * 0.5 + rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    }


def _tables(scale: str) -> dict[str, dict]:
    c = SCALES[scale]
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp, n_part, n_ord, n_li, n_ev = (
        c["customer"], c["supplier"], c["part"], c["orders"], c["lineitem"], c["events"])
    ev_gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev).astype(np.int64)
    return {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(
                rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(_PART_TYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": pa.array(_day_ts(rng, n_ord, "1995-01-01", "2001-08-01")),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
            "l_shipdate": pa.array(_day_ts(rng, n_li, "1995-01-02", "2001-11-04")),
        },
        "events": {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + np.cumsum(ev_gaps)),
            "user_id": pa.array(rng.integers(0, c["users"], n_ev)),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev)),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        },
        "documents": _documents(rng, c["documents"]),
        "embeddings": _embeddings(rng, c["embeddings"]),
    }


def write_tables(out_dir: str, scale: str) -> str:
    """Write every fixture table as ``<out_dir>/<scale>/<table>.parquet``
    (reused when already complete) and return that directory."""
    sf_dir = os.path.join(out_dir, f"{scale}-v{TABLES_VERSION}")
    marker = os.path.join(sf_dir, "_COMPLETE")
    if os.path.exists(marker):
        return sf_dir
    os.makedirs(sf_dir, exist_ok=True)
    for name, cols in _tables(scale).items():
        tmp = os.path.join(sf_dir, f".{name}.parquet.tmp")
        pq.write_table(pa.table(cols), tmp, row_group_size=1 << 30)
        os.replace(tmp, os.path.join(sf_dir, f"{name}.parquet"))
    open(marker, "w").close()
    return sf_dir


# --- tick stream -----------------------------------------------------------

#: Event-time origin of the tick stream (2024-01-02 14:00 UTC, in ms).
TICK_EPOCH_MS = 1_704_204_000_000
#: Event-time milliseconds per scheduled wall millisecond: one wall second
#: of the open loop carries one event-minute of trading, so a run spans
#: more event time than the pipeline's 10-minute dedup watermark.
EVENT_TIME_SCALE = 60
#: Out-of-order ticks arrive up to this many event-ms late (inside the
#: 10-minute watermark, so none is dropped as too late).
MAX_DISORDER_MS = 4 * 60_000
SYMBOLS = [f"S{k:03d}" for k in range(101)]
#: Seeded shares of the generated messages.
DUP_SHARE, DISORDER_SHARE, MALFORMED_SHARE, ZERO_VOLUME_SHARE = 0.05, 0.10, 0.01, 0.02


@dataclass
class TickStream:
    """The seeded tick schedule: ``files[i]`` is a list of JSON lines,
    covering the i-th ``interval_s`` of the schedule. ``ledger`` holds each
    distinct valid tick once as ``(symbol, t_ms, price, volume)``;
    ``duplicates`` holds one more entry per re-sent copy of a ledger tick."""

    files: list[list[str]]
    ledger: list[tuple[str, int, float, int]]
    duplicates: list[tuple[str, int, float, int]]

    @property
    def n_messages(self) -> int:
        return sum(len(f) for f in self.files)


def tick_stream(seed: int, n_files: int, per_file: int, interval_s: float) -> TickStream:
    rng = np.random.default_rng(seed)
    zipf = 1.0 / np.arange(1, len(SYMBOLS) + 1) ** 1.1
    zipf /= zipf.sum()
    file_span_ms = interval_s * 1000 * EVENT_TIME_SCALE
    files: list[list[str]] = []
    ledger: list[tuple[str, int, float, int]] = []
    duplicates: list[tuple[str, int, float, int]] = []
    pending_dups: list[tuple[int, str]] = []  # (due file, message)
    taken: set[tuple[str, int]] = set()
    for i in range(n_files):
        base = TICK_EPOCH_MS + int(i * file_span_ms)
        lines = [m for due, m in pending_dups if due == i]
        pending_dups = [(due, m) for due, m in pending_dups if due != i]
        syms = rng.choice(len(SYMBOLS), per_file, p=zipf)
        offs = np.sort(rng.integers(0, int(file_span_ms), per_file))
        kinds = rng.random(per_file)
        for sym_i, off, u in zip(syms, offs, kinds):
            sym = SYMBOLS[sym_i]
            if u < MALFORMED_SHARE:
                lines.append('{"s": "' + sym + '", "p": ')
                continue
            t = base + int(off)
            if u < MALFORMED_SHARE + DISORDER_SHARE:
                t -= int(rng.integers(1, MAX_DISORDER_MS))
            # distinct valid ticks never share (symbol, t): the RSI fold's
            # event-time order is then unambiguous
            while (sym, t) in taken:
                t += 1
            price = float(np.float32(round(50.0 + sym_i * 7 % 97 + rng.normal(0, 2), 2)))
            volume = 0 if u > 1 - ZERO_VOLUME_SHARE else int(rng.integers(1, 500))
            msg = json.dumps({"c": ["1"], "p": price, "s": sym, "t": t, "v": volume})
            lines.append(msg)
            if volume > 0:
                ledger.append((sym, t, price, volume))
                taken.add((sym, t))
                if i + 1 < n_files and rng.random() < DUP_SHARE:  # re-sent in a later file
                    duplicates.append(ledger[-1])
                    pending_dups.append((min(n_files - 1, i + int(rng.integers(1, 3))), msg))
        order = rng.permutation(len(lines))
        files.append([lines[j] for j in order])
    return TickStream(files=files, ledger=ledger, duplicates=duplicates)
