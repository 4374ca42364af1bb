"""Perceptual-hash (pHash) image near-duplicate detection — the U4×U7
composition: real pixel decode through the dependency-free GIF codec,
an exact integer 2-D DCT, a 63-bit low-band sign hash, and banded
Hamming-distance candidate generation that never materializes all
pairs.

This is the standard image-dedup stage of large multimodal corpus
builds (DCT-based pHash): render a small grayscale raster, take the
low-frequency 8×8 DCT band, and hash each AC coefficient's sign
against the band median. Near-identical images differ in few bits of
the hash, so near-dup detection is Hamming distance over 64-bit codes,
run through the banded-LSH pair core in ``dedup`` that the SimHash lane
shares (``int_band_rows`` banding by pigeonhole, the hot-bucket star
guard of ``guarded_bucket_pairs``, ``delta_probe_pairs``). Documents
render to images via ``token_raster`` (a token-bucket histogram — edits stay
local in pixel space, the property file-byte tiling lacks), and every
raster round-trips through the real GIF89a/LZW codec before hashing.

Everything is exact integer arithmetic so the DuckDB oracle recomputes
bit-identical hashes: the DCT basis is a PRECOMPUTED integer table
(``round(cos(π(2x+1)u/64)·8192)``, DC row scaled by 1/√2) embedded
verbatim in both the numpy kernel and the oracle SQL — no cross-engine
libm trust anywhere. The reference has no image operators at all
(its media surface is declared, not implemented); rows U4/U7 of
SURVEY §2 define the parity target.

100 TB posture: hashing is per-row narrow work (mapInPandas over the
text column — render + codec round-trip + two 8×32 integer matmuls
per image, no shuffle); candidate generation is the banded self-join with bounded
task memory (≤ ``HOT_BUCKET_CAP`` collected per bucket, hot buckets
stream star pairs straight off a window); the 63-bit code is 8 bytes
per image regardless of image size, so the shuffle carries hashes,
never pixels.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from .dedup import (
    HOT_BUCKET_CAP,
    _flagged_recall,
    _flagged_recall_oracle,
    delta_probe_pairs,
    guarded_bucket_pairs,
    int_band_rows,
    survivor_verdicts,
)

#: Raster size the payload is tiled to before the DCT (pHash classic
#: uses 32×32 → 8×8 low band).
PHASH_DIM = 32
#: Low-frequency band kept (u, v < 8) → 63 AC coefficients + DC.
PHASH_BAND = 8
#: Fixed-point scale of the integer DCT basis.
PHASH_SCALE = 8192
#: 63 hash bits split into 4 bands (16/16/16/15): by pigeonhole any
#: pair within Hamming ≤ 3 shares at least one clean band, so banded
#: candidate generation is EXACT for the threshold below.
PHASH_BANDS = 4
PHASH_BAND_BITS = 16
PHASH_HAMMING = 3
#: Minimum document bytes for a meaningful raster (shorter docs are
#: excluded in both engines).
PHASH_MIN_BYTES = PHASH_DIM
#: Gray step per token landing in a bucket (saturating at 255): one
#: token = 32, eight or more = white. Chosen so single-token edits move
#: a pixel by a visible-but-local amount.
PHASH_PIXEL_SCALE = 32


def _dct_basis() -> list[tuple[int, int, int]]:
    """(u, x, c) rows of the integer DCT-II basis, u < PHASH_BAND,
    x < PHASH_DIM. The u=0 row carries the orthonormal 1/√2 factor so
    DC-adjacent coefficients weigh as in the classic transform; all
    values are integers fixed at import time and shared verbatim by the
    numpy kernel and the oracle SQL."""
    rows = []
    for u in range(PHASH_BAND):
        for x in range(PHASH_DIM):
            if u == 0:
                c = round(PHASH_SCALE / math.sqrt(2.0))
            else:
                c = round(
                    math.cos(math.pi * (2 * x + 1) * u / (2 * PHASH_DIM))
                    * PHASH_SCALE
                )
            rows.append((u, x, c))
    return rows


_DCT_ROWS = _dct_basis()


def token_raster(text: str) -> bytes:
    """Render a document as a 32×32 grayscale feature image: each
    whitespace token (the corpus-wide ``tokens()`` tokenizer) hashes to
    one of 1024 pixels via the first 15 hex chars of its md5, and the
    pixel's gray level is the saturating token count ×
    ``PHASH_PIXEL_SCALE``. Token-level edits touch only their own
    buckets, so near-duplicate documents render to near-identical
    images — the property a byte-stream tiling lacks (one insertion
    shifts every later pixel) and the reason real image pipelines hash
    rendered pixels, not file bytes."""
    import hashlib
    import re

    raster = bytearray(PHASH_DIM * PHASH_DIM)
    for tok in re.split(r"\s+", text.strip()):
        p = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16) % (
            PHASH_DIM * PHASH_DIM
        )
        raster[p] = min(255, raster[p] + PHASH_PIXEL_SCALE)
    return bytes(raster)


def phash64(text: str) -> int:
    """pHash of one document, through the REAL codec: render the token
    raster, round-trip it through ``encode_gif`` / ``decode_gif``
    (palette index = gray level — any LZW defect breaks the hash), then
    integer DCT → low-band median sign bits."""
    import numpy as np

    from .gif import decode_gif, encode_gif

    idx = token_raster(text)
    gif = encode_gif(idx, PHASH_DIM, PHASH_DIM)
    w, h, indices, _palette = decode_gif(gif)
    b = (
        np.frombuffer(indices, dtype=np.uint8)
        .astype(np.int64)
        .reshape(h, w)
    )
    c = np.zeros((PHASH_BAND, PHASH_DIM), dtype=np.int64)
    for u, x, v in _DCT_ROWS:
        c[u, x] = v
    d = c @ b @ c.T  # D[u][v] = Σ_{y,x} b[y][x]·C[u][y]·C[v][x]
    flat = d.reshape(-1)[1:]  # row-major, DC dropped → 63 AC coefficients
    med = int(np.sort(flat)[31])  # 32nd order statistic, exact
    out = 0
    for i, val in enumerate(flat):
        if int(val) > med:
            out |= 1 << i
    return out


def phash_column(frames: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, phash BIGINT) for a (id, text) frame — Arrow-batched
    ``mapInPandas``, corpus-linear, shuffle-free."""
    from collections.abc import Iterator

    import pandas as pd

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "phash": [phash64(t) for t in pdf["text"]],
                }
            )

    return frames.select(id_col, "text").mapInPandas(
        _hash, f"{id_col} long, phash long"
    )


def phash_pairs(
    frames: DataFrame, hot_bucket_cap: int = HOT_BUCKET_CAP
) -> DataFrame:
    """Banded Hamming pairs over the pHash codes of a (doc_id, text)
    frame: 4×16-bit bands of the 63-bit code through the shared core
    (``int_band_rows`` → ``guarded_bucket_pairs``), Hamming ≤ 3."""
    banded = int_band_rows(
        phash_column(frames), "phash", PHASH_BANDS, PHASH_BAND_BITS
    )
    # Hamming gate BEFORE the distinct (fewer rows into the exchange;
    # per-pair-deterministic column, so DISTINCT/WHERE commute) and
    # presentation sort dropped (order-insensitive compare).
    return (
        guarded_bucket_pairs(banded, "band_val", "phash", hot_bucket_cap)
        .filter(F.col("hamming") <= PHASH_HAMMING)
        .distinct()
    )


def _phash_cte(hot_bucket_cap: int | None = HOT_BUCKET_CAP) -> str:
    """Shared oracle CTE chain reproducing the pHash pipeline in DuckDB
    — same feature raster, same integer DCT basis table, same median
    sign hash, same band blocking and Hamming verify — terminating in a
    ``ph_flagged`` relation of (doc_a, doc_b, hamming) pairs within the
    Hamming limit. Prefixed ``ph_`` so the chain composes with
    ``_minhash_cte`` in one WITH clause (``phash_recall``).
    ``hot_bucket_cap=None`` emits the UNGUARDED all-pairs bucket set
    (the incremental oracle — see ``phash_incremental``)."""
    basis = ", ".join(f"({u}, {x}, {c})" for u, x, c in _DCT_ROWS)
    need = PHASH_DIM * PHASH_DIM
    mask = (1 << PHASH_BAND_BITS) - 1
    if hot_bucket_cap is None:
        pair_branch = """
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
          FROM ph_sized a JOIN ph_sized b ON a.band_id = b.band_id
                                          AND a.band_val = b.band_val
                                          AND a.doc_id < b.doc_id"""
    else:
        pair_branch = f"""
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
          FROM ph_sized a JOIN ph_sized b ON a.band_id = b.band_id
                                          AND a.band_val = b.band_val
                                          AND a.doc_id < b.doc_id
          WHERE a.bsz <= {hot_bucket_cap}
          UNION ALL
          SELECT bmin AS doc_a, doc_id AS doc_b,
                 CAST(bit_count(xor(bmin_hash, phash)) AS INT) AS hamming
          FROM ph_sized WHERE bsz > {hot_bucket_cap} AND doc_id <> bmin"""

    banded = " UNION ALL ".join(
        f"SELECT doc_id, phash, {k} AS band_id,"
        f" ((phash >> {PHASH_BAND_BITS * k}) & {mask}) AS band_val FROM ph_hashes"
        for k in range(PHASH_BANDS)
    )
    return f"""
    ph_cos(u, x, c) AS MATERIALIZED (SELECT * FROM (VALUES {basis})),
    ph_docs AS MATERIALIZED (
      SELECT doc_id, text FROM documents
      WHERE octet_length(encode(text)) >= {PHASH_MIN_BYTES}
    ),
    ph_toks AS MATERIALIZED (
      SELECT doc_id,
             unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM ph_docs
    ),
    ph_buckets AS MATERIALIZED (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % {need} AS p,
             COUNT(*) AS cnt
      FROM ph_toks GROUP BY doc_id, p
    ),
    ph_pix AS MATERIALIZED (
      -- SPARSE raster: only nonzero pixels. A document's raster has at
      -- most (distinct tokens) nonzero cells out of 1024; zero pixels
      -- contribute nothing to any DCT sum, so the dense cross join is
      -- pure wasted work (measured 16 s -> sub-second at sf0.1). The
      -- integer sums are identical to the dense form.
      SELECT doc_id, CAST(p // {PHASH_DIM} AS INT) AS y,
             CAST(p % {PHASH_DIM} AS INT) AS x,
             CAST(LEAST(255, {PHASH_PIXEL_SCALE} * cnt) AS BIGINT) AS b
      FROM ph_buckets
    ),
    ph_rowpass AS MATERIALIZED (
      SELECT p.doc_id, c.u, p.x, CAST(SUM(c.c * p.b) AS BIGINT) AS a
      FROM ph_pix p JOIN ph_cos c ON c.x = p.y
      GROUP BY p.doc_id, c.u, p.x
    ),
    ph_dct AS MATERIALIZED (
      SELECT r.doc_id, r.u, c.u AS v, CAST(SUM(c.c * r.a) AS BIGINT) AS d
      FROM ph_rowpass r JOIN ph_cos c ON c.x = r.x
      GROUP BY r.doc_id, r.u, c.u
    ),
    ph_ac AS MATERIALIZED (SELECT * FROM ph_dct WHERE NOT (u = 0 AND v = 0)),
    ph_med AS MATERIALIZED (
      SELECT doc_id, d AS med FROM (
        SELECT doc_id, d,
               row_number() OVER (PARTITION BY doc_id ORDER BY d, u, v) AS rn
        FROM ph_ac
      ) WHERE rn = 32
    ),
    ph_hashes AS MATERIALIZED (
      SELECT a.doc_id,
             CAST(SUM(CASE WHEN a.d > m.med
                           THEN (1::BIGINT << (a.u * {PHASH_BAND} + a.v - 1))
                           ELSE 0 END) AS BIGINT) AS phash
      FROM ph_ac a JOIN ph_med m ON m.doc_id = a.doc_id
      GROUP BY a.doc_id
    ),
    ph_banded AS MATERIALIZED ({banded}),
    ph_sized AS MATERIALIZED (
      SELECT doc_id, phash, band_id, band_val,
             COUNT(*) OVER w AS bsz,
             MIN(doc_id) OVER w AS bmin,
             FIRST_VALUE(phash) OVER
               (PARTITION BY band_id, band_val ORDER BY doc_id) AS bmin_hash
      FROM ph_banded
      WINDOW w AS (PARTITION BY band_id, band_val)
    ),
    ph_flagged AS MATERIALIZED (
      SELECT doc_a, doc_b, hamming FROM (
        SELECT DISTINCT doc_a, doc_b, hamming FROM ({pair_branch})
      ) WHERE hamming <= {PHASH_HAMMING}
    )"""


@query(
    "phash_near_dup",
    oracle=f"""
    WITH {_phash_cte()}
    SELECT doc_a, doc_b, hamming FROM ph_flagged
    ORDER BY doc_a, doc_b
    """,
    tags=("U4", "U7"),
    crossover=False,  # band-bucket pair counts grow super-linearly with
    # occupancy under clone replication, same exclusion as simhash
)
def phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4+U7] Image near-dup via DCT pHash through the real GIF codec:
    every document renders to a 32×32 grayscale feature raster
    (``token_raster`` — token-level edits stay local in pixel space)
    that is round-tripped through the actual GIF89a/LZW
    encoder+decoder (``operators/gif.py`` — a defect anywhere in the
    codec shifts pixels and breaks the oracle hash compare), then
    63-bit median-sign DCT hash → 4×16-bit band blocking → Hamming ≤ 3
    verify. The banding is lossless for the threshold by pigeonhole,
    and the oracle recomputes the identical integer pipeline from the
    same embedded DCT basis table."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.octet_length(F.encode("text", "utf-8")) >= PHASH_MIN_BYTES
    )
    return phash_pairs(docs.select("doc_id", "text"))


@query(
    "phash_recall",
    oracle=_flagged_recall_oracle(_phash_cte(), "ph_flagged"),
    tags=("U4", "U7"),
    crossover=False,
)
def phash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4+U7] Acceptance metric for the pHash detector — the
    cross-representation audit in the style of ``simhash_recall``: how
    well does Hamming ≤ 3 on the tiled-image pHash capture the exact
    3-shingle-Jaccard ≥ 0.8 near-dup TEXT pairs? Clone-grade duplicates
    tile to identical rasters (Hamming 0); lightly edited documents
    shift few low-frequency coefficients. Recall and precision against
    the shared ``exact_truth_pairs`` kernel quantify the representation
    gap an operator accepts when fronting an image-dedup pass with
    pHash. Exact integer counts; engine-identical double ratios."""
    return _flagged_recall(spark, sf_dir, phash_near_dup(spark, sf_dir))


@query(
    "phash_clusters",
    oracle=f"""
    WITH RECURSIVE {_phash_cte()},
    ph_edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM ph_flagged
      UNION ALL SELECT doc_b, doc_a FROM ph_flagged
    ),
    ph_nodes AS (SELECT DISTINCT src AS id FROM ph_edges),
    ph_reach(id, r) AS (
      SELECT id, id FROM ph_nodes
      UNION
      SELECT ph_reach.id, e.dst FROM ph_reach JOIN ph_edges e
        ON e.src = ph_reach.r
    )
    SELECT id AS doc_id, MIN(r) AS keeper_doc_id
    FROM ph_reach GROUP BY id ORDER BY doc_id
    """,
    tags=("U4", "U7"),
    prepared=False,  # iterative components loop materializes checkpoints
    crossover=False,
)
def phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4+U7] Image-dedup cluster assignment: pHash Hamming pairs →
    connected components (the same alternating large-star/small-star
    contraction as the text lane — ``dedup.connected_components``) →
    keeper = smallest doc_id per cluster. Completes the image lane to
    parity with ``near_dup_clusters``: detector → clusters → survivors.
    Oracle resolves components with the recursive transitive-closure
    CTE over the identical integer pair set."""
    from ..execution import materialize_counted
    from .dedup import connected_components

    pairs = phash_near_dup(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    # phash_pairs emits a DISTINCT canonical set (doc_a < doc_b) but
    # lazily — materialize once, then skip the seed-normalization job
    # and the nodes-table join (see connected_components docstring).
    # The checkpoint and the CC seed count are fused into one job
    # (materialize_counted, r17 §8b) and the count handed to CC;
    # presentation sort dropped (order-insensitive compare)
    pairs_m, n_pairs = materialize_counted(pairs)
    comp = connected_components(pairs_m, assume_canonical=True, n_edges=n_pairs)
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("keeper_doc_id"),
    )


@query(
    "phash_survivors",
    oracle=f"""
    WITH RECURSIVE {_phash_cte()},
    ph_edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM ph_flagged
      UNION ALL SELECT doc_b, doc_a FROM ph_flagged
    ),
    ph_nodes AS (SELECT DISTINCT src AS id FROM ph_edges),
    ph_reach(id, r) AS (
      SELECT id, id FROM ph_nodes
      UNION
      SELECT ph_reach.id, e.dst FROM ph_reach JOIN ph_edges e
        ON e.src = ph_reach.r
    ),
    ph_clusters AS (
      SELECT id AS doc_id, MIN(r) AS keeper FROM ph_reach GROUP BY id
    )
    SELECT d.doc_id,
           COALESCE(c.keeper, d.doc_id) AS keeper_doc_id,
           COALESCE(c.keeper, d.doc_id) = d.doc_id AS keep
    FROM documents d LEFT JOIN ph_clusters c ON d.doc_id = c.doc_id
    WHERE octet_length(encode(d.text)) >= {PHASH_MIN_BYTES}
    ORDER BY d.doc_id
    """,
    tags=("U4", "U7"),
    prepared=False,
    crossover=False,
)
def phash_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4+U7] Full-corpus image-dedup decision: every hashable document
    with its pHash-cluster keeper (itself when unclustered) and a
    keep/drop verdict — ``filter(keep)`` IS the image-deduplicated
    corpus (``dedup.survivor_verdicts``)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.octet_length(F.encode("text", "utf-8")) >= PHASH_MIN_BYTES
    )
    return survivor_verdicts(docs, phash_clusters(spark, sf_dir))


def phash_incremental_pairs(
    base_docs: DataFrame, delta_docs: DataFrame
) -> DataFrame:
    """Incremental image near-dup: Hamming pairs involving ≥1 DELTA doc.

    The nightly shape of a 100 TB image lake: the corpus's (band_id,
    band_val, phash) table is persisted once (stood in here by banding
    ``phash_column(base_docs)`` — in production a parquet table
    maintained across runs) and hashes are computed ONLY for the delta;
    ``delta_probe_pairs`` finds the candidates. Unlike the MinHash lane
    there is no second verification pass at all — the Hamming verify
    runs on the 8-byte codes already carried by the band rows."""

    def bands(docs: DataFrame) -> DataFrame:
        return int_band_rows(
            phash_column(docs), "phash", PHASH_BANDS, PHASH_BAND_BITS
        )

    return delta_probe_pairs(
        bands(base_docs), bands(delta_docs), "band_val", "phash"
    ).filter(F.col("hamming") <= PHASH_HAMMING)


@query(
    "phash_incremental",
    oracle=f"""
    WITH {_phash_cte(hot_bucket_cap=None)}
    SELECT doc_a, doc_b, hamming FROM ph_flagged
    WHERE doc_a % 10 = 0 OR doc_b % 10 = 0
    ORDER BY doc_a, doc_b
    """,
    tags=("U4", "U7"),
    crossover=False,
)
def phash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4+U7] Incremental image dedup (``phash_incremental_pairs``):
    docs with ``doc_id % 10 == 0`` play the nightly delta, the rest the
    standing corpus — the same deterministic split as
    ``minhash_incremental``. The full-corpus oracle's UNGUARDED pair
    set filtered to delta-involving pairs is exactly what the delta
    probe must surface (a pair sharing a band bucket with a delta image
    ⇔ the probe finds it), so the driver hash-compares incrementality
    against the batch ground truth."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.octet_length(F.encode("text", "utf-8")) >= PHASH_MIN_BYTES
    )
    is_delta = (F.col("doc_id") % 10) == 0
    return phash_incremental_pairs(
        docs.filter(~is_delta).select("doc_id", "text"),
        docs.filter(is_delta).select("doc_id", "text"),
    )
