"""Streaming near-duplicate detection at ingest — the watermarked twin
of the batch MinHash LSH lane (``operators/dedup.py``): documents
arriving on a stream are signed, banded, and probed against per-bucket
keeper state, so near-dups are flagged the moment the second copy
lands instead of in a nightly batch pass.

Pipeline shape (T10 × U4):

1. ``banded_doc_rows`` — per-document MinHash signature + LSH band
   hashes computed in an Arrow-batched ``mapInPandas`` with byte-exact
   parity to the batch expression pipeline (same md5 scheme:
   ``base = md5(shingle)``, four seeded digests split into sixteen
   8-hex-char permutations, band hash = md5 of the band's concatenated
   pieces — pinned by ``test_minhash_stream.py::test_signature_parity``).
   Per-row narrow work: each document's signature depends only on its
   own text, so the streaming form needs no shuffle before the state
   operator.
2. ``minhash_stream`` — ``groupBy(band_id, band_hash)`` →
   ``applyInPandasWithState``: per band bucket the state holds up to
   ``HOT_BUCKET_CAP`` keeper signatures within the TTL horizon. The
   bucket's updater is ``stateful.watermark_buffered`` around the pure
   ``minhash_bucket_fold``: new documents wait in the bucket's buffer
   until the watermark passes them, or until the bucket's event-time
   timer flushes it, so a late-but-in-watermark doc folds in its true
   event-time position. Each ripe doc probes the keepers, emits one
   (doc_a, doc_b, est_jaccard) row per bucket hit, and joins the keeper
   set. Exact re-deliveries of an already-kept doc_id are dropped
   (stateful dedup at ingest).

State bound: ≤ cap keepers + the sub-watermark buffer per ACTIVE
bucket; keepers older than ``ttl`` (event time) are evicted as new
ripe documents arrive, so an idle bucket's state decays to its last
cap keepers and the operator's total state is O(active buckets × cap)
regardless of stream length — asserted from ``stateOperators``
telemetry in the tests. At 100 TB-scale ingest the bucket key space
partitions across executors like any keyed state; no bucket ever
holds more than cap signatures (the batch lane's hot-bucket star
guard, enforced here by refusing keeper slots past the cap while
still probing — a boilerplate clique streams through as cap-bounded
star pairs to the earliest keepers).

Out-of-order parity: over any fixture whose documents all fit inside
the TTL horizon, the DISTINCT (doc_a, doc_b) set equals the batch
``minhash_candidates`` pair set on the same documents, regardless of
arrival order — pinned by the volume-parity test.

Reference: the reference's streaming job ships stub transforms
(`scripts/spark_streaming_processing/yfinance_processing.py:30-31`);
this operator is part of the declared-surface build-out (SURVEY §2
T10/U4).
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.dedup import (
    HOT_BUCKET_CAP,
    MINHASH_BANDS,
    MINHASH_PERMS,
    MINHASH_ROWS,
    SHINGLE_N,
)
from .stateful import watermark_buffered

#: Hex chars per permutation piece (32-bit slice of an md5 digest).
_PIECE_HEX = 8


def doc_signature(text: str) -> list[str] | None:
    """The batch ``minhash_signatures`` arithmetic for ONE document:
    16 lexicographic-min 8-hex-char pieces over the doc's 3-shingles,
    or None for docs with fewer than ``SHINGLE_N`` tokens (the batch
    form filters them out before signing)."""
    toks = re.split(r"\s+", text.strip())
    if len(toks) < SHINGLE_N:
        return None
    n_seeds = MINHASH_PERMS // 4
    mins: list[str | None] = [None] * MINHASH_PERMS
    for i in range(len(toks) - SHINGLE_N + 1):
        base = hashlib.md5(
            " ".join(toks[i : i + SHINGLE_N]).encode("utf-8")
        ).hexdigest()
        for s in range(n_seeds):
            h = hashlib.md5(f"{s}:{base}".encode("utf-8")).hexdigest()
            for r in range(4):
                piece = h[_PIECE_HEX * r : _PIECE_HEX * (r + 1)]
                idx = s * 4 + r
                if mins[idx] is None or piece < mins[idx]:
                    mins[idx] = piece
    return mins  # type: ignore[return-value]


def band_hashes(sig: list[str]) -> list[str]:
    """Band hash per LSH band: md5 of the band's concatenated pieces —
    identical to the batch ``band_rows`` construction."""
    return [
        hashlib.md5(
            "".join(
                sig[b * MINHASH_ROWS : (b + 1) * MINHASH_ROWS]
            ).encode("utf-8")
        ).hexdigest()
        for b in range(MINHASH_BANDS)
    ]


def est_jaccard_sigs(a: str, b: str) -> float:
    """Signature-estimated Jaccard: matching permutation share over the
    two packed 128-hex-char signatures."""
    eq = sum(
        1
        for i in range(MINHASH_PERMS)
        if a[_PIECE_HEX * i : _PIECE_HEX * (i + 1)]
        == b[_PIECE_HEX * i : _PIECE_HEX * (i + 1)]
    )
    return eq / MINHASH_PERMS


_BANDED_SCHEMA = (
    "doc_id long, datetime timestamp, band_id int, band_hash string,"
    " sig string"
)


def banded_doc_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, datetime, band_id, band_hash, sig) — 4 rows per signable
    document; signature packed as 128 hex chars. Narrow per-row work."""

    def explode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, ts, text in zip(
                pdf["doc_id"], pdf["datetime"], pdf["text"]
            ):
                sig = doc_signature(text if text is not None else "")
                if sig is None:
                    continue
                packed = "".join(sig)
                for b, bh in enumerate(band_hashes(sig)):
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "datetime": ts,
                            "band_id": b,
                            "band_hash": bh,
                            "sig": packed,
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "datetime", "band_id", "band_hash", "sig"],
            )

    return docs.select("doc_id", "datetime", "text").mapInPandas(
        explode, _BANDED_SCHEMA
    )


def minhash_bucket_fold(
    keepers: list[tuple[int, str, int]],
    ripe: list[tuple[int, int, str]],
    cap: int = HOT_BUCKET_CAP,
    ttl_ms: int = 600_000,
) -> tuple[list[tuple[int, str, int]], list[tuple]]:
    """Pure per-bucket fold, shared by the state machine and its
    property tests. ``keepers`` is [(doc_id, sig, ts_ms)]; ``ripe`` is
    [(ts_ms, doc_id, sig)] watermark-final and sorted. Each ripe doc
    first evicts keepers older than ``ttl_ms`` behind it, then emits one
    (doc_a, doc_b, est_jaccard, ts_ms) pair per surviving keeper
    (doc_a < doc_b), then takes a keeper slot if one of the ``cap`` is
    free. A doc_id already kept is an exact re-delivery: dropped."""
    pairs: list[tuple] = []
    for ts_ms, doc_id, sig in ripe:
        keepers = [k for k in keepers if ts_ms - k[2] <= ttl_ms]
        if any(k[0] == doc_id for k in keepers):
            continue
        for kid, ksig, _kts in keepers:
            a, b = (kid, doc_id) if kid < doc_id else (doc_id, kid)
            sig_a, sig_b = (ksig, sig) if kid < doc_id else (sig, ksig)
            pairs.append((a, b, est_jaccard_sigs(sig_a, sig_b), ts_ms))
        if len(keepers) < cap:
            keepers.append((doc_id, sig, ts_ms))
    return keepers, pairs


MINHASH_STREAM_SCHEMA = StructType(
    [
        StructField("band_id", IntegerType()),
        StructField("doc_a", LongType()),
        StructField("doc_b", LongType()),
        StructField("est_jaccard", DoubleType()),
        StructField("datetime", TimestampType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("keeper_ids", ArrayType(LongType())),
        StructField("keeper_sigs", ArrayType(StringType())),
        StructField("keeper_ts", ArrayType(LongType())),
        StructField("buf_ts", ArrayType(LongType())),
        StructField("buf_ids", ArrayType(LongType())),
        StructField("buf_sigs", ArrayType(StringType())),
    ]
)


def _doc_extract(buf: list, pdf: pd.DataFrame) -> None:
    for doc_id, ts, sig in zip(pdf["doc_id"], pdf["datetime"], pdf["sig"]):
        buf.append((int(ts.value // 1_000_000), int(doc_id), sig))


def _pairs_emit(key: tuple, pairs: list) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "band_id": [int(key[0])] * len(pairs),
            "doc_a": [p[0] for p in pairs],
            "doc_b": [p[1] for p in pairs],
            "est_jaccard": [p[2] for p in pairs],
            "datetime": pd.to_datetime([p[3] for p in pairs], unit="ms"),
        }
    )


def _bucket_update(cap: int, ttl_ms: int):
    """The bucket's ``watermark_buffered`` updater: the core is the
    keepers' three parallel arrays, the buffer (ts_ms, doc_id, sig)."""

    def fold(core: tuple, ripe: list) -> tuple:
        keepers = list(zip(*(c or [] for c in core)))
        keepers, pairs = minhash_bucket_fold(keepers, ripe, cap, ttl_ms)
        return tuple(list(c) for c in zip(*keepers)) or ([], [], []), pairs

    return watermark_buffered(
        fold, _pairs_emit, _doc_extract, empty=([], [], []), n_buf=3
    )


def minhash_stream(
    docs: DataFrame,
    watermark: str = "10 minutes",
    ttl_ms: int = 600_000,
    hot_bucket_cap: int = HOT_BUCKET_CAP,
) -> DataFrame:
    """T10×U4: streaming MinHash near-dup detection over a (doc_id,
    datetime, text) document stream — band-bucket keyed state, keeper
    signatures within the TTL horizon, append-mode candidate pairs
    (each bucket hit exactly once). See module docstring for the state
    bound and the batch-parity contract."""
    banded = banded_doc_rows(docs)
    wm = (
        banded.withWatermark("datetime", watermark)
        if banded.isStreaming
        else banded
    )
    return wm.groupBy("band_id", "band_hash").applyInPandasWithState(
        _bucket_update(hot_bucket_cap, ttl_ms),
        outputStructType=MINHASH_STREAM_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
