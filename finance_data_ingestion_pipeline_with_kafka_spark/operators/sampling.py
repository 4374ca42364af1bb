"""Deterministic sampling / dataset-splitting operators (north-star
training-data pipeline surface; SURVEY §2.10 context).

A 100 TB training corpus needs *reproducible* splits and per-domain
sampling: random() is useless (re-runs disagree, engines disagree), so
everything here keys off a content hash. ``md5(key)`` is identical in
Spark and DuckDB, and the first two hex chars give a uniform 256-bucket
lattice — comparing them lexicographically against a hex threshold
selects a deterministic fraction with zero coordination, no shuffle, and
full pushdown (the predicate is a pure per-row expression).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query, sized

#: first-two-hex-chars bucket of the row's content hash: 256 uniform bins.
def _hash_bucket(key: F.Column) -> F.Column:
    return F.substring(F.md5(key.cast("string")), 1, 2)


_HASH_BUCKET_SQL = "substr(md5(CAST({key} AS VARCHAR)), 1, 2)"


@query(
    "dataset_split",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {_HASH_BUCKET_SQL.format(key="doc_id")} < 'f0' THEN 'train'
                WHEN {_HASH_BUCKET_SQL.format(key="doc_id")} < 'f8' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    tags=("U6",),
    bench=True,
    policy=sized,
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (93.75 / 3.125 / 3.125 %)
    by content-hash bucket. Every engine, every re-run, every subset of
    the data agrees on each row's split — the property that matters when
    the corpus is rebuilt incrementally. Narrow (no shuffle, no state);
    at 100 TB this is a free extra column on the ingest pass."""
    d = load_table(spark, sf_dir, "documents")
    b = _hash_bucket(F.col("doc_id"))
    split = (
        F.when(b < "f0", F.lit("train")).when(b < "f8", F.lit("val")).otherwise(F.lit("test"))
    )
    # presentation sort dropped (order-insensitive compare)
    return d.select("doc_id", split.alias("split"))


#: per-language keep-rate as a hex threshold over the 256-bin lattice:
#: de 100% · fr 75% ('c0'=192/256) · es 50% ('80') · en 25% ('40') ·
#: zh 12.5% ('20') — the "domain mixing" shape: downsample the dominant
#: source, keep the scarce ones.
_RATES = {"de": "zz", "fr": "c0", "es": "80", "en": "40", "zh": "20"}
_DEFAULT_RATE = "40"


@query(
    "stratified_sample",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_HASH_BUCKET_SQL.format(key="doc_id")} <
          CASE lang WHEN 'de' THEN 'zz' WHEN 'fr' THEN 'c0' WHEN 'es' THEN '80'
                    WHEN 'en' THEN '40' WHEN 'zh' THEN '20' ELSE '40' END
    ORDER BY doc_id
    """,
    tags=("U6",),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group deterministic sampling at group-specific rates (domain
    mixing for training corpora). Same hash-threshold trick as
    :func:`dataset_split`, with the threshold looked up per language.
    Unlike ``df.sampleBy`` (seeded RNG, partitioning-sensitive) this is
    exactly reproducible and engine-independent; the filter is a narrow
    per-row predicate — no shuffle at any scale."""
    d = load_table(spark, sf_dir, "documents")
    thresh = F.coalesce(
        F.create_map(*[F.lit(x) for kv in _RATES.items() for x in kv])[F.col("lang")],
        F.lit(_DEFAULT_RATE),
    )
    return (
        d.filter(_hash_bucket(F.col("doc_id")) < thresh)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


RESERVOIR_K = 10


@query(
    "reservoir_sample",
    oracle=f"""
    SELECT lang, doc_id, sample_rank FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS sample_rank
      FROM documents
    ) WHERE sample_rank <= {RESERVOIR_K}
    ORDER BY lang, sample_rank
    """,
    tags=("O4",),
)
def reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample per stratum — the deterministic twin of
    reservoir sampling: rank rows by a uniform hash of their key and
    keep the K smallest per language. Unlike ``stratified_sample``
    (fraction-based), the output size is EXACTLY min(K, n) per stratum
    regardless of stratum size — the "give me 10k examples per language"
    shape of training-data curation. Hash-rank selection is mergeable
    (K smallest of a union = K smallest of each part's K smallest) and
    rerun-stable, where classic reservoir sampling is RNG- and
    order-dependent.

    Scale: the per-stratum rank is a window sort today; at 100 TB the
    same selection runs as per-partition top-K + merge (the
    ``vocab_coverage`` top-k pattern) with identical output."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("lang", "doc_id", F.row_number().over(w).alias("sample_rank"))
        .filter(F.col("sample_rank") <= RESERVOIR_K)
        .orderBy("lang", "sample_rank")
    )


#: 32-bit Knuth multiplicative hash constants for the weighted sampler:
#: exact int64 arithmetic both engines share (md5-hex buckets, the
#: catalog's usual source of determinism, compare as strings — fine for
#: uniform thresholds but useless for weight-PROPORTIONAL ones, which
#: need a numeric uniform).
_U32 = 4294967296
_KNUTH = 2654435761


@query(
    "weighted_hash_sample",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang, n_chars,
             (doc_id % {_U32}) * {_KNUTH} % {_U32} AS hash_val
      FROM documents
    ), m AS (SELECT CAST(MAX(n_chars) AS BIGINT) AS max_chars FROM documents)
    SELECT h.doc_id, h.lang, h.n_chars,
           CAST(h.n_chars AS DOUBLE) / m.max_chars AS p_include
    FROM h, m
    WHERE h.hash_val * m.max_chars < h.n_chars * {_U32}
    ORDER BY h.doc_id
    """,
    tags=("U6", "P8"),
)
def weighted_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED sampling — inclusion probability
    proportional to document length (p = n_chars / max_chars), the
    curation move behind length-weighted or quality-weighted corpus
    mixes that the uniform/stratified/reservoir/token-budget samplers
    can't express. The md5-hex-bucket mechanism those samplers share
    compares hex strings and cannot scale a threshold by a weight, so
    this uses a numeric uniform: a 32-bit Knuth multiplicative hash of
    doc_id, with the inclusion test kept ENTIRELY in exact int64
    arithmetic — ``hash · max_chars < n_chars · 2³²`` is the
    cross-multiplied form of ``hash/2³² < n_chars/max_chars`` with no
    float anywhere in the decision (both products stay far inside
    int64), so every engine, rerun and subset agrees on every row.
    ``p_include`` is emitted as the audit column (one double division
    of exact ints).

    Narrow except the one-row max (literal-carry broadcast); at 100 TB
    this is a free extra predicate on the ingest pass, like
    ``dataset_split``."""
    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        "lang",
        "n_chars",
        ((F.col("doc_id") % _U32) * _KNUTH % _U32).alias("hash_val"),
    )
    m = d.agg(F.max("n_chars").cast("bigint").alias("max_chars"))
    return (
        h.crossJoin(F.broadcast(m))  # 1-row literal-carry
        .filter(
            F.col("hash_val") * F.col("max_chars")
            < F.col("n_chars").cast("bigint") * _U32
        )
        .select(
            "doc_id",
            "lang",
            "n_chars",
            (F.col("n_chars").cast("double") / F.col("max_chars")).alias("p_include"),
        )
        .orderBy("doc_id")
    )
