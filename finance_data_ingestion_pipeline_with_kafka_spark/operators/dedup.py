"""Deduplication family over ``documents`` (SURVEY §2.10 U4; north-star
"dedup": exact, MinHash-LSH, SimHash, n-gram Jaccard).

Scale design: every variant is banding/blocking-based — no O(n²) global
comparison ever materializes. Candidate generation is a hash-bucket
self-join (shuffle on the band key), verification runs only inside
buckets. That is the shape that survives 100 TB: work is proportional to
(docs × signature width) + (candidate pairs), not docs².

The banded lanes (MinHash, SimHash, and pHash in ``phash``) share one
pair core: ``band_rows`` / ``int_band_rows`` banding,
``guarded_bucket_pairs`` (the hot-bucket guard), ``delta_probe_pairs``
(the nightly delta probe), and ``survivor_verdicts`` (the keeper join).
Each lane keeps only its own check (exact Jaccard, or Hamming ≤ its
limit) and its ``distinct``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, scan_replicate
from ..functions.core import davg
from ..execution import (  # re-export: the dedup pipeline is its historical home
    materialize,
    materialize_counted,
    rewrap_analyzed,
)
from ..registry import ExecPolicy, policy_session, query, sized
from .text import TOKEN_SPLIT, tokens

# MinHash parameters: 16 permutations in 4 bands × 4 rows. With Jaccard
# threshold ~0.8, P(candidate) = 1-(1-s^4)^4 ≈ 0.93 at s=0.8.
MINHASH_PERMS = 16
MINHASH_BANDS = 4
MINHASH_ROWS = MINHASH_PERMS // MINHASH_BANDS
SHINGLE_N = 3


@query(
    "exact_dedup",
    oracle="""
    WITH fp AS (
      SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
      FROM documents
    )
    SELECT fingerprint,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM fp
    GROUP BY fingerprint
    """,
    tags=("U4", "A5"),
    bench=True,
    # r16: the dedup family's blanket exclusion from the sized-partition
    # path exists for explosion-dominated shuffles (shingle rows ≫ input
    # bytes); exact_dedup is one row per document — the bytes heuristic
    # fits, and the tiny-input AQE-off static path applies cleanly.
    # Measured (interleaved same-JVM A/B, min-of-5 × 2 rounds, sf0.1):
    # unsized 0.32-0.43 s vs sized 0.175-0.200 s.
    policy=sized,
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4] Exact dedup via canonical-fingerprint hash-groupBy: one shuffle
    on the 128-bit fingerprint, keeper = min doc_id (deterministic)."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    return (
        d.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        # presentation sort dropped (order-insensitive compare)
    )




def shingles(col: str = "text", n: int = SHINGLE_N) -> F.Column:
    """Distinct n-word shingles as an array column (built-in exprs only)."""
    toks = F.split(F.trim(F.col(col)), TOKEN_SPLIT)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]),
        )
    )


def shingle_rows(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingle) rows via ``arrays_zip`` of n shifted ``slice``\\ s,
    exploded, then ``concat_ws`` AFTER the explode — every step is a
    built-in whole-stage-codegen expression and the pipeline is fully
    NARROW (no window, no shuffle; the old posexplode+``lead`` window
    shape cost a doc_id shuffle + per-doc sort, measured ~40% slower at
    sf0.1; higher-order ``transform`` lambdas evaluate interpreted and are
    ~10× slower still). Duplicate shingles are KEPT: min-hash is
    duplicate-insensitive, so no distinct pass."""
    toks = F.split(F.trim(F.col("text")), TOKEN_SPLIT)
    m = F.size(toks) - (n - 1)  # number of complete n-gram positions
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, m) for j in range(n)])
    return (
        docs.filter(F.size(toks) >= n)
        .select("doc_id", F.explode(zipped).alias("z"))
        .select("doc_id", F.concat_ws(" ", *[F.col(f"z.{j}") for j in range(n)]).alias("sh"))
    )


def exact_jaccard(a: str, b: str):
    """J(A,B) over DISTINCT arrays via the union identity
    |A∪B| = |A| + |B| − |A∩B|: only the intersect is materialized — the
    array_union scan it replaces was measured as ~half the per-pair
    verification cost (see ``ngram_jaccard_pairs``). The double value is
    bit-identical to the array_union form (same exact integers through
    the same division), so oracles computing the union explicitly still
    hash-match."""
    i = F.size(F.array_intersect(a, b))
    return i.cast("double") / (F.size(a) + F.size(b) - i)


#: Permutations per seeded md5: one 128-bit digest yields four 32-bit
#: (8 hex char) pieces, each an independent hash function — the standard
#: split-one-digest-into-k-pieces construction.
_PERMS_PER_SEED = 4


def minhash_signatures(docs: DataFrame, perms: int = MINHASH_PERMS) -> DataFrame:
    """MinHash signatures as one ``array<string>`` column: permutation
    ``i = 4s + r`` is the lexicographic min over the document's shingles
    of hex chars ``[8r+1, 8r+8]`` of ``md5(s || ":" || base)``, where
    ``base = md5(shingle)`` is computed ONCE per shingle. Two hashing
    economies vs the naive ``perms`` seeded hashes per shingle: the
    seeded re-hash runs over a fixed 35-byte input (not the shingle's
    string bytes), and each 128-bit seeded digest is split into four
    32-bit pieces that act as four independent permutations — 5 md5
    calls per shingle instead of 17. At sf0.1 the Spark side is
    orchestration-bound (stage scheduling, not hashing) and measures
    roughly flat; the hashing reduction pays where hashing dominates —
    large documents and cluster scale, where signature computation is
    the linear-cost term. md5 rather than xxhash64 deliberately: both
    engines implement
    md5, and lexicographic min over fixed-width lowercase-hex ASCII
    agrees between Spark's and DuckDB's string comparison, so the ENTIRE
    minhash pipeline has an exact DuckDB twin and the driver
    hash-compares it like any deterministic query. One shuffle total for
    the signature table; signature width is ``perms`` hex strings per
    doc regardless of document size."""
    n_seeds = (perms + _PERMS_PER_SEED - 1) // _PERMS_PER_SEED
    rows = shingle_rows(docs).withColumn("base", F.md5(F.col("sh")))
    seeded = rows.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{s}:"), F.col("base"))).alias(f"h{s}")
            for s in range(n_seeds)
        ],
    )
    aggs = [
        F.min(F.substring(F.col(f"h{i // _PERMS_PER_SEED}"), 8 * (i % _PERMS_PER_SEED) + 1, 8)).alias(f"mh{i}")
        for i in range(perms)
    ]
    grouped = seeded.groupBy("doc_id").agg(*aggs)
    return grouped.select(
        "doc_id", F.array(*[F.col(f"mh{i}") for i in range(perms)]).alias("minhash")
    )


# ---------------------------------------------------------------------------
# Banded-LSH pair core (see the module docstring).


def _band(b: int, n_rows: int, *tags: F.Column) -> F.Column:
    """Band ``b`` of ``n_rows`` rows of the ``minhash`` array as a
    (*tags, band_id, band_hash) struct: band hash = md5 of the band's
    concatenated row minhashes (fixed 32-char pieces — no separator
    ambiguity)."""
    return F.struct(
        *tags,
        F.lit(b).alias("band_id"),
        F.md5(
            F.concat(
                *[F.element_at("minhash", b * n_rows + r + 1) for r in range(n_rows)]
            )
        ).alias("band_hash"),
    )


def band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) rows — LSH banding of the ``minhash``
    array into the production ``MINHASH_BANDS`` × ``MINHASH_ROWS`` split
    (``_band``); ``minhash_band_sweep`` bands every other divisor split
    in the same pass."""
    bands = F.array(*[_band(b, MINHASH_ROWS) for b in range(MINHASH_BANDS)])
    return sigs.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id", "band.band_id", "band.band_hash"
    )


def int_band_rows(
    sigs: DataFrame, code_col: str, n_bands: int, band_bits: int
) -> DataFrame:
    """(doc_id, ``code_col``, band_id, band_val) rows — banding of an
    integer code (SimHash, pHash) into ``n_bands`` slices of
    ``band_bits`` bits, low bits first: band k is
    ``(code >> band_bits·k) & mask``. By pigeonhole, a pair within
    Hamming < ``n_bands`` agrees on at least one whole band, so the
    banding is lossless for such a threshold. The code rides along for
    the Hamming check."""
    mask = (1 << band_bits) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(k).alias("band_id"),
                F.shiftright(code_col, band_bits * k)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for k in range(n_bands)
        ]
    )
    return sigs.select("doc_id", code_col, F.explode(bands).alias("b")).select(
        "doc_id", code_col, "b.band_id", "b.band_val"
    )


#: Band-bucket members above which the all-pairs self-join inside the
#: bucket is replaced by star pairing to the bucket's min doc_id. A
#: boilerplate clique of b clones lands all b docs in one bucket per
#: band; all-pairs would emit O(b²) candidates — at 100 TB that single
#: degenerate bucket is the *expected* case (license headers, templated
#: pages), not an adversarial one. Star pairing emits b−1 candidates and
#: preserves clique connectivity through the hub after exact-Jaccard
#: verification. The cap is mirrored verbatim in the DuckDB oracle CTE
#: (``_minhash_cte``), so the driver compare stays exact whether or not
#: any bucket trips it; at the shipped test SFs the max observed bucket
#: is 4 members (sf0.1), far below the cap.
HOT_BUCKET_CAP = 32


def _hamming(a: F.Column, b: F.Column) -> F.Column:
    return F.bit_count(a.bitwiseXOR(b)).cast("int").alias("hamming")


def guarded_bucket_pairs(
    banded: DataFrame,
    key: str,
    payload: str | None = None,
    cap: int = HOT_BUCKET_CAP,
) -> DataFrame:
    """Candidate pairs of the docs sharing a (band_id, ``key``) bucket:
    all pairs inside buckets of ≤ ``cap`` members, star pairs (each
    member with the bucket's min doc_id) above it, so one degenerate
    bucket can never emit O(b²) candidates (VERDICT r8 ask #3). Rows are
    (doc_a, doc_b) with doc_a < doc_b, plus ``hamming`` =
    popcount(code_a XOR code_b) when ``payload`` names an integer code
    column. Not distinct: a pair sharing several bands repeats.

    Plan shape (r10, ADVICE r9): one window over the band key computes
    each row's bucket size / rank / min (and the min member's code, via
    ``first`` in doc_id order), then the two guard branches split BEFORE
    any array exists — hot buckets (> cap) emit star pairs as plain rows
    straight off the window (never collected: a million-clone
    boilerplate bucket streams through sort + filter with bounded task
    memory), and only ≤ cap buckets are collected into member arrays
    (≤ cap elements by construction) for the all-pairs expansion. The
    window and the follow-on groupBy share one hash partitioning (single
    exchange), so this costs the same one shuffle as the r9
    collect-everything shape while removing its unbounded per-bucket
    array. The pair SET is identical, so the oracle CTEs (windowed
    bucket size + min in DuckDB) compare exact."""
    from pyspark.sql import Window

    codes = [payload] if payload else []
    w = Window.partitionBy("band_id", key)
    wo = w.orderBy("doc_id")
    b = banded.select(
        "doc_id",
        *codes,
        "band_id",
        key,
        F.count(F.lit(1)).over(w).alias("n"),
        F.row_number().over(wo).alias("rn"),
        F.min("doc_id").over(w).alias("bmin"),
        *[F.first(c).over(wo).alias("bmin_code") for c in codes],
    )
    star_pairs = b.filter((F.col("n") > cap) & (F.col("rn") > 1)).select(
        F.col("bmin").alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
        *[_hamming(F.col("bmin_code"), F.col(c)) for c in codes],
    )
    member = F.struct("doc_id", payload) if payload else F.col("doc_id")
    members = (
        b.filter((F.col("n") <= cap) & (F.col("n") >= 2))
        .groupBy("band_id", key)
        .agg(F.array_sort(F.collect_list(member)).alias("ms"))
        .select("ms")
    )

    def pair(x, y):
        if payload is None:
            return F.struct(x.alias("doc_a"), y.alias("doc_b"))
        return F.struct(
            x["doc_id"].alias("doc_a"),
            y["doc_id"].alias("doc_b"),
            _hamming(x[payload], y[payload]),
        )

    n = F.size("ms")
    all_pairs = F.flatten(
        F.transform(
            "ms",
            lambda a, i: F.transform(
                F.slice("ms", i + 2, F.greatest(n - i - 1, F.lit(0))),
                lambda c: pair(a, c),
            ),
        )
    )
    cold_pairs = members.select(F.explode(all_pairs).alias("p")).select("p.*")
    return cold_pairs.unionByName(star_pairs)


def delta_probe_pairs(
    base_bands: DataFrame,
    delta_bands: DataFrame,
    key: str,
    payload: str | None = None,
) -> DataFrame:
    """Distinct (doc_a < doc_b[, hamming]) pairs involving ≥1 DELTA doc:
    the delta's band rows probe the full band table (base ∪ delta) on
    (band_id, ``key``), so the join touches exactly the buckets holding a
    delta doc — a bucket whose members all pre-exist is never re-paired,
    and work per night ∝ |delta| × affected-bucket occupancy, not corpus
    size. Unguarded: every delta-involving pair is reported (its
    quadratic exposure is |delta| × occupancy, not occupancy²).
    ``payload`` as in ``guarded_bucket_pairs``."""
    # in production the base side is a read of the PERSISTED band table,
    # not a recompute; the plan shape downstream is identical either way
    all_bands = base_bands.unionByName(delta_bands)
    a, b = F.col("a.doc_id"), F.col("b.doc_id")
    return (
        delta_bands.alias("a")
        .join(
            all_bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (a != b),
        )
        # delta×delta pairs surface twice (once from each side's probe):
        # normalize to (min, max) and de-dup
        .select(
            F.least(a, b).alias("doc_a"),
            F.greatest(a, b).alias("doc_b"),
            *[_hamming(F.col(f"a.{c}"), F.col(f"b.{c}")) for c in [payload] if c],
        )
        .distinct()
    )


def minhash_candidates(
    sigs: DataFrame, hot_bucket_cap: int = HOT_BUCKET_CAP
) -> DataFrame:
    """LSH banding candidates: the distinct pairs of docs sharing any
    (band_id, band_hash) bucket, under the hot-bucket guard
    (``guarded_bucket_pairs``)."""
    return guarded_bucket_pairs(
        band_rows(sigs), "band_hash", cap=hot_bucket_cap
    ).distinct()


def _minhash_cte(hot_bucket_cap: int | None = HOT_BUCKET_CAP) -> str:
    """Shared oracle CTE chain reproducing the full MinHash pipeline in
    DuckDB — same shingles, same ``md5(i || ":" || md5(shingle))``
    permutations, same banded candidates (including the hot-bucket star
    guard, mirrored verbatim from ``minhash_candidates`` so the compare
    stays exact whether or not a bucket trips the cap), same
    exact-Jaccard verify — terminating in a ``near_dup`` relation of
    verified pairs. ``hot_bucket_cap=None`` emits the UNGUARDED all-pairs
    candidate CTE — the twin of the incremental delta-probe path, which
    reports every delta-involving pair (its quadratic exposure is bounded
    by |delta| x bucket occupancy, not bucket size squared)."""
    if hot_bucket_cap is None:
        cands_cte = """cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band_id = b.band_id
                                AND a.band_hash = b.band_hash
                                AND a.doc_id < b.doc_id
    )"""
    else:
        cands_cte = f"""sized_bands AS (
      SELECT doc_id, band_id, band_hash,
             COUNT(*) OVER (PARTITION BY band_id, band_hash) AS bsz,
             MIN(doc_id) OVER (PARTITION BY band_id, band_hash) AS bmin
      FROM bands
    ),
    cands AS (
      SELECT DISTINCT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sized_bands a JOIN sized_bands b
          ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
        WHERE a.bsz <= {hot_bucket_cap}
        UNION ALL
        SELECT bmin AS doc_a, doc_id AS doc_b
        FROM sized_bands WHERE bsz > {hot_bucket_cap} AND doc_id <> bmin
      )
    )"""
    n_seeds = (MINHASH_PERMS + _PERMS_PER_SEED - 1) // _PERMS_PER_SEED
    seed_cols = ", ".join(f"md5('{s}:' || base) AS h{s}" for s in range(n_seeds))
    mh_cols = ", ".join(
        f"MIN(substring(h{i // _PERMS_PER_SEED}, {8 * (i % _PERMS_PER_SEED) + 1}, 8)) AS mh{i}"
        for i in range(MINHASH_PERMS)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5({parts}) AS band_hash FROM sigs".format(
            b=b,
            parts="||".join(f"mh{b * MINHASH_ROWS + r}" for r in range(MINHASH_ROWS)),
        )
        for b in range(MINHASH_BANDS)
    )
    n = SHINGLE_N
    gram = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(n))
    return f"""
    toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ), grams AS (
      SELECT doc_id, unnest(list_transform(range(1, greatest(len(t)-{n - 1}, 0)+1),
              i -> {gram})) AS sh
      FROM toks WHERE len(t) >= {n}
    ), hashed AS (SELECT doc_id, md5(sh) AS base FROM grams),
    seeded AS (SELECT doc_id, {seed_cols} FROM hashed),
    sigs AS (SELECT doc_id, {mh_cols} FROM seeded GROUP BY doc_id),
    bands AS ({band_selects}),
    {cands_cte}, sets AS (SELECT doc_id, list_distinct(list(sh)) AS shset FROM grams GROUP BY doc_id),
    near_dup AS (
      SELECT doc_a, doc_b, jaccard FROM (
        SELECT c.doc_a, c.doc_b,
               ROUND(CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
                     / len(list_distinct(list_concat(sa.shset, sb.shset))), 6) AS jaccard
        FROM cands c JOIN sets sa ON sa.doc_id = c.doc_a
                     JOIN sets sb ON sb.doc_id = c.doc_b
      ) WHERE jaccard >= 0.8
    )"""


#: SQL escaping of the token-split regex: a Spark SQL string literal
#: processes backslash escapes, so each backslash doubles.
_TOKEN_SPLIT_SQL = TOKEN_SPLIT.replace("\\", "\\\\")

#: Phase B of the verified-pair pipeline — candidate docs' shingle SETS —
#: as generated SQL over temp views of the candidate checkpoint and the
#: corpus scan (see ``minhash_pairs``). Literal transcription of
#: ``cand_ids = cands.doc_a ∪ cands.doc_b DISTINCT`` → left-semi join →
#: ``shingle_rows`` (same slice/arrays_zip/explode/concat_ws chain, same
#: ``size(t) >= n`` guard) → ``collect_set``.
_MH_SHINGLE_SETS_SQL = f"""
WITH cand_ids AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM {{cands}}
    UNION ALL
    SELECT doc_b AS doc_id FROM {{cands}}
  )
),
cdocs AS (
  SELECT d.doc_id, d.text FROM {{docs}} d
  LEFT SEMI JOIN cand_ids ci ON d.doc_id = ci.doc_id
),
toks AS (
  SELECT doc_id, split(trim(text), '{_TOKEN_SPLIT_SQL}') AS t FROM cdocs
),
zipped AS (
  SELECT doc_id,
         explode(arrays_zip({", ".join(
             f"slice(t, {j + 1}, size(t) - {SHINGLE_N - 1})"
             for j in range(SHINGLE_N)
         )})) AS z
  FROM toks WHERE size(t) >= {SHINGLE_N}
)
SELECT doc_id,
       collect_set(concat_ws(' ', {", ".join(
           f"z.`{j}`" for j in range(SHINGLE_N)
       )})) AS sh
FROM zipped GROUP BY doc_id
"""

#: Phase C — exact-Jaccard verification of the candidate pairs against
#: the phase-B shingle sets: the same two joins and the same
#: ``round(exact_jaccard, 6)`` arithmetic (intersection computed via the
#: union identity; the divisor's integer sum coerces to double exactly
#: as the Column form did), filtered at the 0.8 threshold.
_MH_VERIFY_SQL = """
SELECT doc_a, doc_b, jaccard FROM (
  SELECT c.doc_a, c.doc_b,
         round(CAST(size(array_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / (size(sa.sh) + size(sb.sh) - size(array_intersect(sa.sh, sb.sh))),
               6) AS jaccard
  FROM {cands} c
  JOIN {sh} sa ON sa.doc_id = c.doc_a
  JOIN {sh} sb ON sb.doc_id = c.doc_b
) WHERE jaccard >= 0.8
"""


#: Explosion allowance for the dedup pipelines' shuffle-width heuristic:
#: the EXCHANGES in the minhash pipeline carry post-aggregation data
#: (per-doc signature partials, 4 band rows/doc, candidate pairs) — far
#: below the map-side shingle blowup — but the width guard still charges
#: the input this factor so the narrowing can only ever fire when even
#: an explosion-inflated estimate is tiny.
_DEDUP_WIDTH_EXPLOSION = 32


def _dedup_shuffle_width(spark: SparkSession, sf_dir: str) -> ExecPolicy | None:
    """Execution policy for the dedup pipelines' tiny-bytes exchanges: AQE
    off at a data-aware static width, or ``None`` to run on the caller's
    session as it is (r17, guide §2.2/§2.4). Measured at sf0.1
    (interleaved same-JVM, min/med of 5): the signatures+candidates
    checkpoint at the session's static width
    32 ran 0.975/1.231 s vs 0.427/0.472 s at 8 — three exchanges of
    ~1 MB shared among 32 sub-millisecond reduce tasks each is pure
    scheduling (AQE's coalescing cannot help: parallelismFirst keeps
    defaultParallelism partitions by design — session.py). The width
    derives from the MEASURED documents bytes × replication ×
    ``_DEDUP_WIDTH_EXPLOSION``, floored at 8 and capped at the session's
    own effective setting (200 when it was never set), so a lake-scale
    corpus (or the 10× crossover's replicated scan) keeps full width —
    the knob only removes overhead from inputs whose explosion-inflated
    size still fits single-digit partitions."""
    import os as _os

    try:
        bytes_ = _os.path.getsize(_os.path.join(sf_dir, "documents.parquet"))
    except OSError:
        return None
    eff = bytes_ * scan_replicate() * _DEDUP_WIDTH_EXPLOSION
    try:
        # the effective value: a default here would stand in for a key
        # the session never set, whose effective width is Spark's 200
        session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return None
    n = max(8, min(session_parts, eff // (8 << 20)))
    return ExecPolicy(False, int(n)) if n < session_parts else None


@query(
    "minhash_near_dup",
    oracle=f"WITH {_minhash_cte()} SELECT doc_a, doc_b, jaccard FROM near_dup",
    tags=("U4",),
    bench=True,
    prepared=False,  # localCheckpoint materializes rows at construction
    crossover=False,  # heaviest bench query in both engines at 10x; its
    # scale story (signature hashing is the linear term) is told by the
    # main bench, and including it would dominate the phase's wall-clock
)
def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4] MinHash + LSH near-duplicate detection (shingle → minhash →
    band → bucket-join → exact-Jaccard verify). Hashing is md5-based and
    engine-portable (see ``minhash_signatures``), so the whole pipeline —
    including which candidate pairs the banding surfaces — has an exact
    DuckDB twin and the driver hash-compares it; injected-near-dup tests
    additionally pin recall behavior.

    The pipeline's checkpointed stages run under ``_dedup_shuffle_width``
    on a child session and the verified pairs come back on ``spark``, so
    the composites that call this fn directly (near_dup_clusters and the
    survivor/stats queries over it) get the same narrowing as the
    catalog entry, and their own later stages keep the caller's width."""
    narrow = policy_session(spark, _dedup_shuffle_width(spark, sf_dir))
    return _on_session(minhash_pairs(load_table(narrow, sf_dir, "documents")), spark)


def _on_session(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df`` re-homed onto ``session`` (``rewrap_analyzed``): it plans
    and runs under that session's conf. ``df`` itself when it is already
    there or the rewrap hook is unavailable."""
    if df.sparkSession is session:
        return df
    out = rewrap_analyzed(df, session)
    return out if out is not None else df


def minhash_pairs(docs: DataFrame) -> DataFrame:
    """The full verified-pair pipeline over an arbitrary (doc_id, text)
    frame — the body of ``minhash_near_dup``, factored out so corpus
    slices (``incremental_clusters``' base corpus) reuse it.

    Materialization strategy (r10, VERDICT r9 ask #2): the two TINY
    intermediates — the candidate pair set and the candidate docs'
    shingle sets — are eagerly ``localCheckpoint``\\ ed in sequence.
    The r9 shape instead persisted the (large) signature table and
    relied on lazy caching inside one action; but the verify stage's two
    broadcast builds of ``sh`` are separate exchanges (different output
    projections, so no ReusedExchange), and broadcast-subtree jobs
    launch concurrently at action start — each raced the persist cache
    and recomputed the full signature lineage. Measured at sf0.1:
    2.1 s → 1.3 s from checkpointing the small frames instead (the
    expensive signature subtree now executes exactly once). At lake
    scale the equivalent is writing candidates/shingle-sets to the lake
    between stages; nothing here holds more than the candidate-pair
    working set. The signature table itself is single-consumer in this
    lineage, so it is deliberately NOT persisted (ADVICE r9).

    Construction strategy (r16, guide §1/§4 — the Python boundary is
    also the DRIVER boundary): building the signatures+candidates
    expression tree costs ~0.9-1.1 s of py4j round trips (hundreds of
    Column constructions), re-paid on every invocation because this
    pipeline is ``prepared=False`` (the registry can't plan-cache a
    query whose construction materializes checkpoints). The subtree
    BELOW the first checkpoint is side-effect-free, so its analyzed
    plan is memoized via ``execution.prepared_plan`` keyed on the
    (already scan-cached) ``docs`` frame — every invocation still
    re-executes every stage through a fresh Dataset + a fresh eager
    checkpoint; only the Python-side expression construction is
    amortized."""
    from ..execution import prepared_plan

    cands = materialize(
        prepared_plan(
            docs.sparkSession,
            ("minhash_sigs_cands", docs),
            lambda: minhash_candidates(minhash_signatures(docs)),
        )
    )
    return _verified_pairs(cands, docs)


def _verified_pairs(cands: DataFrame, docs: DataFrame) -> DataFrame:
    """Phases B and C of the MinHash lane: the exact-Jaccard ≥ 0.8 pairs
    among the materialized candidate pairs ``cands``, checked against the
    shingle sets of the (doc_id, text) frame ``docs``; materialized."""
    spark = docs.sparkSession
    # Phases B (candidate shingle sets) and C (exact-Jaccard verify) are
    # generated SQL over temp views of the fresh checkpoints (r17,
    # VERDICT r16 ask #4): their DataFrame construction was ~0.15-0.45 s
    # of py4j Column round trips PER INVOCATION, unmemoizable by
    # prepared_plan because both close over this invocation's cands
    # checkpoint (an analyzed-plan memo would replay LAST run's rows).
    # ``spark.sql`` analyzes eagerly, so the views are dropped right
    # after each call; names are unique so concurrent invocations never
    # clobber each other. The SQL is the literal transcription of the
    # prior DataFrame chain (semi-join → shingle_rows → collect_set;
    # cands ⋈ sh ⋈ sh → round(exact_jaccard, 6)), pinned equal by
    # test_minhash_phase_bc_sql_equals_dataframe_form and oracle-exact
    # against the unchanged DuckDB CTE.
    seq = next(_VIEW_SEQ)
    cands_v, docs_v, sh_v = (
        f"__mh_cands_{seq}", f"__mh_docs_{seq}", f"__mh_sh_{seq}"
    )
    cands.createOrReplaceTempView(cands_v)
    docs.createOrReplaceTempView(docs_v)
    try:
        sh = materialize(
            spark.sql(_MH_SHINGLE_SETS_SQL.format(cands=cands_v, docs=docs_v))
        )
    finally:
        spark.catalog.dropTempView(docs_v)
    sh.createOrReplaceTempView(sh_v)
    try:
        verified = spark.sql(_MH_VERIFY_SQL.format(cands=cands_v, sh=sh_v))
    finally:
        spark.catalog.dropTempView(sh_v)
        spark.catalog.dropTempView(cands_v)
    # Materialize the near-dup pair set (tiny: one row per verified pair);
    # the checkpoint also truncates lineage for downstream consumers
    # (near_dup_clusters' iterative loop).
    # presentation sort dropped (order-insensitive compare)
    return materialize(verified)


@query(
    "lsh_bucket_profile",
    oracle=f"""
    WITH {_minhash_cte()}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(c) AS BIGINT) AS max_bucket,
           CAST(COALESCE(SUM(CASE WHEN c > {HOT_BUCKET_CAP} THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_hot_buckets,
           CAST(COALESCE(SUM(CASE WHEN c <= {HOT_BUCKET_CAP}
                                  THEN c * (c - 1) // 2 ELSE c - 1 END), 0)
                AS BIGINT) AS guarded_pair_slots,
           CAST(COALESCE(SUM(c * (c - 1) // 2), 0) AS BIGINT)
             AS unguarded_pair_slots
    FROM (SELECT band_id, band_hash, COUNT(*) AS c FROM bands GROUP BY 1, 2)
    """,
    tags=("U4", "A1"),
)
def lsh_bucket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4] Skew audit for the LSH banding layer — the query an operator
    runs BEFORE a 100 TB dedup pass to see whether the corpus carries
    degenerate boilerplate buckets and what the hot-bucket star guard
    will save: bucket count, max occupancy, buckets over
    ``HOT_BUCKET_CAP``, and the candidate-PAIR-SLOT totals the banding
    would emit with and without the guard (pre-``distinct`` multiset
    across bands — the join WORK metric, not the result-set size). The
    guard arithmetic here is the same ``all-pairs ≤ cap, star above``
    rule ``guarded_bucket_pairs`` executes, so the driver hash-verifies
    the guard's bucket math every round even while the shipped fixtures
    never trip the cap (max observed bucket: 4). One extra aggregation
    over the band table — no pair materialization anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("n")
    quad = (c * (c - 1) / 2).cast("bigint")
    return (
        band_rows(minhash_signatures(docs))
        .groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("n").cast("bigint").alias("max_bucket"),
            F.coalesce(
                F.sum(F.when(c > HOT_BUCKET_CAP, 1).otherwise(0)), F.lit(0)
            ).cast("bigint").alias("n_hot_buckets"),
            F.coalesce(
                F.sum(F.when(c <= HOT_BUCKET_CAP, quad).otherwise(c - 1)), F.lit(0)
            ).cast("bigint").alias("guarded_pair_slots"),
            F.coalesce(F.sum(quad), F.lit(0)).cast("bigint").alias(
                "unguarded_pair_slots"
            ),
        )
    )


#: Maximum posting length (documents per fingerprint) admitted to the
#: containment pair join — fingerprints above it are boilerplate
#: signatures, not containment evidence, and would make one posting
#: quadratic. Mirrored in the fingerprint_containment oracle.
FP_POSTING_CAP = 64


def minhash_incremental_pairs(base_docs: DataFrame, delta_docs: DataFrame) -> DataFrame:
    """Incremental MinHash near-dup: verified pairs involving ≥1 DELTA doc.

    The nightly shape of a 100 TB lake: the corpus's signature/band table
    is persisted once (here stood in by ``band_rows(minhash_signatures(
    base_docs))`` — in production a parquet table maintained across runs)
    and a new-docs delta arrives. Signatures are computed ONLY for the
    delta; candidates come from ``delta_probe_pairs`` (a bucket whose
    members are all pre-existing is never re-paired — asserted by
    ``test_minhash_incremental_skips_old_buckets``), and the same phase
    B/C verify as ``minhash_pairs`` checks them."""
    delta_sigs = minhash_signatures(delta_docs).persist()
    cands = materialize(
        delta_probe_pairs(
            band_rows(minhash_signatures(base_docs)), band_rows(delta_sigs), "band_hash"
        )
    )
    delta_sigs.unpersist()
    return _verified_pairs(cands, base_docs.unionByName(delta_docs))


#: Deterministic delta membership for the incremental catalog query: every
#: 10th doc is "tonight's arrivals", the rest are the standing corpus.
INCR_DELTA_MOD = 10


@query(
    "minhash_incremental",
    oracle=(
        f"WITH {_minhash_cte(hot_bucket_cap=None)} SELECT doc_a, doc_b, jaccard FROM near_dup "
        f"WHERE doc_a % {INCR_DELTA_MOD} = 0 OR doc_b % {INCR_DELTA_MOD} = 0"
    ),
    tags=("U4",),
    prepared=False,  # localCheckpoint materializes rows at construction
    crossover=False,
)
def minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4] Incremental near-dup dedup (``minhash_incremental_pairs``):
    docs with ``doc_id % 10 == 0`` play the nightly delta, the rest the
    standing corpus. The full-corpus oracle's verified pair set filtered
    to delta-involving pairs is EXACTLY what the incremental path must
    surface (a pair sharing an LSH bucket with a delta member ⇔ the
    delta probe finds it), so the driver hash-compares incrementality
    against the batch ground truth. The oracle uses the UNGUARDED
    candidate CTE (``hot_bucket_cap=None``): the delta probe reports all
    delta-involving pairs — its quadratic exposure is |delta members| ×
    bucket occupancy, not occupancy², so the batch path's hot-bucket
    star guard does not apply here."""
    docs = load_table(spark, sf_dir, "documents")
    is_delta = (F.col("doc_id") % INCR_DELTA_MOD) == 0
    return minhash_incremental_pairs(docs.filter(~is_delta), docs.filter(is_delta))


#: Oracle CTE fragment for the exact ground-truth pair set (assumes the
#: ``grams`` and ``sets`` CTEs from ``_minhash_cte`` are in scope):
#: shared-shingle inverted-index candidates, exact-Jaccard-filtered with
#: the verify stage's rounded comparison. Shared by the minhash and
#: simhash acceptance metrics.
_TRUTH_CTE = """
    dsh AS (SELECT DISTINCT doc_id, sh FROM grams),
    tp AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM dsh a JOIN dsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
    ), truth AS (
      SELECT t.doc_a, t.doc_b
      FROM tp t JOIN sets sa ON sa.doc_id = t.doc_a
                JOIN sets sb ON sb.doc_id = t.doc_b
      WHERE ROUND(CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
                  / len(list_distinct(list_concat(sa.shset, sb.shset))), 6) >= 0.8
    )"""


def exact_truth_pairs(docs: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard >= 0.8 pair set via a shared-shingle
    inverted-index join (lossless: J >= 0.8 > 0 implies a shared
    shingle), with the SAME rounded comparison the MinHash verify stage
    uses. The AUDIT-path ground truth for the dedup acceptance metrics —
    see ``minhash_recall`` for the scale contract."""
    dsh = shingle_rows(docs).distinct()
    sets = dsh.groupBy("doc_id").agg(F.collect_set("sh").alias("shset"))
    tp = (
        dsh.alias("a")
        .join(
            dsh.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    jac = F.round(exact_jaccard("sh_a", "sh_b"), 6)
    return (
        tp.join(sets.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("sh_a")), "doc_a")
        .join(sets.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("sh_b")), "doc_b")
        .filter(jac >= 0.8)
        .select("doc_a", "doc_b")
    )


def pair_audit(
    found: DataFrame, truth: DataFrame, configs: DataFrame | None = None
) -> DataFrame:
    """``n_truth``, ``n_found`` and ``n_hit`` (= |found ∩ truth|) of two
    distinct (doc_a, doc_b) pair sets: one full outer join on the pair
    with a presence flag per side, then one aggregation, so ``truth`` is
    read once. ``configs``, an optional literal spine whose columns also
    tag ``found``'s rows (``minhash_band_sweep``'s band splits), is
    crossed with ``truth``; the result then has one row per spine row,
    zeros included."""
    keys = configs.columns if configs is not None else []
    if configs is not None:
        truth = truth.crossJoin(F.broadcast(configs))
    on = [*keys, "doc_a", "doc_b"]
    flagged = found.select(*on, F.lit(True).alias("f")).join(
        truth.select(*on, F.lit(True).alias("t")), on, "full"
    )
    counts = flagged.groupBy(*keys).agg(
        F.count("t").alias("n_truth"),
        F.count("f").alias("n_found"),
        # null AND true is null: counts the rows present on both sides
        F.count(F.col("t") & F.col("f")).alias("n_hit"),
    )
    if configs is None:
        return counts
    return configs.join(F.broadcast(counts), keys, "left").na.fill(0)


@query(
    "minhash_recall",
    oracle=f"""
    WITH {_minhash_cte()},
    {_TRUTH_CTE}, counts AS (
      SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
             CAST((SELECT COUNT(*) FROM cands) AS BIGINT) AS n_candidates,
             CAST((SELECT COUNT(*) FROM near_dup) AS BIGINT) AS n_verified
    )
    SELECT n_truth, n_candidates, n_verified,
           CASE WHEN n_truth > 0
                THEN CAST(n_verified AS DOUBLE) / n_truth END AS recall,
           CASE WHEN n_candidates > 0
                THEN CAST(n_verified AS DOUBLE) / n_candidates END AS candidate_precision
    FROM counts
    """,
    tags=("U4",),
    prepared=False,  # composes minhash_near_dup (localCheckpoint at build)
    crossover=False,
)
def minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4] Acceptance metric for the MinHash-LSH dedup family — the
    recall@threshold counterpart of ``ann_recall``: how much of the EXACT
    shingle-Jaccard >= 0.8 pair set does the banded pipeline surface, and
    how selective is the banding?

    Ground truth is computed exactly via a shared-shingle inverted-index
    join (any pair with J >= 0.8 shares a shingle, so the index is
    lossless), then exact-Jaccard-filtered with the SAME rounded
    comparison the verify stage uses. Every verified banded pair is by
    construction in the truth set, so recall = |near_dup| / |truth| and
    candidate_precision = |near_dup| / |candidates| (banding
    selectivity). With 4 bands x 4 rows, P(candidate | s=0.8) ~ 0.93 —
    recall near that is the acceptance band; 1.0 on a fixture whose dup
    pairs sit well above the threshold.

    Scale: the truth kernel is the AUDIT path, run on a sample or small
    corpus slice — a shared-shingle join's bucket occupancy is bounded by
    shingle document-frequency, and stop-phrase shingles are a skew risk
    at corpus scale (the production full-corpus path remains the banded
    pipeline this metric audits). All counts are exact integers; ratios
    are single double divisions of identical ints, engine-identical."""
    docs = load_table(spark, sf_dir, "documents")
    # no persist anywhere: this is an acceptance-audit query whose result
    # is one row — a build-time persist would outlive the action (no
    # post-action hook here), and leaked cached blocks cost more than
    # the recompute
    audit = pair_audit(
        minhash_candidates(minhash_signatures(docs)), exact_truth_pairs(docs)
    )
    n_ver = minhash_near_dup(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_verified")
    )
    return audit.crossJoin(n_ver).select(  # 1-row frames: literal-carry
        "n_truth",
        F.col("n_found").alias("n_candidates"),
        "n_verified",
        _ratio("n_verified", "n_truth").alias("recall"),
        _ratio("n_verified", "n_found").alias("candidate_precision"),
    )


def _ratio(num: str, den: str) -> F.Column:
    """``num / den`` as a double, null when ``den`` is 0 — the oracles'
    ``CASE WHEN den > 0 THEN CAST(num AS DOUBLE) / den END``."""
    return F.when(F.col(den) > 0, F.col(num).cast("double") / F.col(den))


@query(
    "ngram_jaccard_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents WHERE lang = 'zh'
    ), grams AS (
      SELECT doc_id,
             list_distinct(list_transform(list_zip(t[:len(t)-1], t[2:]),
                                          s -> s[1] || ' ' || s[2])) AS g,
             CAST(floor(log2(len(list_distinct(
               list_transform(list_zip(t[:len(t)-1], t[2:]), s -> s[1] || ' ' || s[2])
             )))) AS BIGINT) AS bkt
      FROM toks WHERE len(t) >= 2
    ), probes AS (
      SELECT doc_id, g, unnest([bkt - 2, bkt - 1, bkt, bkt + 1, bkt + 2]) AS probe
      FROM grams
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(i AS DOUBLE) / (na + nb - i), 6) AS jaccard
    FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.g, b.g)) AS i,
             len(a.g) AS na, len(b.g) AS nb
      FROM probes a JOIN grams b ON a.probe = b.bkt AND a.doc_id < b.doc_id
                                 AND 3 * greatest(len(a.g), len(b.g))
                                     <= 10 * least(len(a.g), len(b.g))
    )
    WHERE 13 * i >= 3 * (na + nb)
    ORDER BY doc_a, doc_b
    """,
    tags=("U4",),
    bench=True,
    crossover=False,  # pair-verification kernel: work grows with block
    # occupancy squared in BOTH engines; at 10x its DuckDB twin would be
    # the crossover phase's wall-clock, not its signal
    # r17: explosion-aware static width in the measured-tiny regime only
    # (interleaved same-JVM A/B at sf0.1, noop min/med: 0.679/0.728 at
    # session width 32 -> 0.599/0.653 at 8); None above the regime
    policy=_dedup_shuffle_width,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4] Exact word-bigram Jaccard with (lang, length-bucket) blocking —
    the verification kernel of near-dup dedup, oracle-checked.

    The pair space is bounded three ways: by language, by bigram-set size
    bucket, and by an exact size-ratio prefilter inside the join.
    J(A,B) >= 0.3 forces |A|/|B| <= 1/0.3 ~ 3.33, i.e. the floor(log2)
    size buckets differ by at most 2 — so each doc probes only its own
    bucket +/-2 (an EQUI-join on the bucket key after a 5x probe fan-out,
    never a full theta-join). Within a bucket pairing, the SAME bound is
    applied exactly in integers (3*max(|A|,|B|) <= 10*min(|A|,|B|)) on the
    precomputed set sizes — pairs failing it are dropped during the hash
    probe on two ints, before the O(|A|+|B|) intersect/union ever runs
    (measured: drops 12.8% of candidate pairs at sf0.1 — lossless, unlike
    a shared-fingerprint prefilter, which could drop true pairs). Pairs
    per block
    are bounded by the bucket's occupancy, not the corpus; the
    full-corpus path is MinHash banding."""
    return (
        _bigram_pair_stats(spark, sf_dir)
        .withColumn(
            "jaccard",
            F.round(
                F.col("i").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("i")),
                6,
            ),
        )
        .select("doc_a", "doc_b", "jaccard")
        # presentation sort dropped (order-insensitive compare)
    )


def _bigram_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared blocked-pair kernel behind ``ngram_jaccard_pairs`` and
    ``jaccard_threshold_curve``: (doc_a, doc_b, i, n_a, n_b) for every
    J ≥ 0.3 word-bigram pair under the (lang, log2-size-bucket)
    blocking — see ``ngram_jaccard_pairs`` for the full design notes."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "zh")
    toks = tokens()
    bigrams = F.array_distinct(
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    )
    g = (
        d.filter(F.size(toks) >= 2)
        .select("doc_id", bigrams.alias("g"))
        .withColumn("n", F.size("g"))
        .withColumn("bkt", F.floor(F.log2(F.col("n"))))
    )
    probes = g.select(
        F.col("doc_id").alias("doc_a"),
        F.col("g").alias("g_a"),
        F.col("n").alias("n_a"),
        F.explode(
            F.array(*[F.col("bkt") + k for k in range(-2, 3)])
        ).alias("probe"),
    )
    b = g.select(
        F.col("doc_id").alias("doc_b"), F.col("g").alias("g_b"),
        F.col("n").alias("n_b"), F.col("bkt"),
    )
    size_ok = (
        3 * F.greatest("n_a", "n_b") <= 10 * F.least("n_a", "n_b")
    )
    # |A∪B| = |A| + |B| − |A∩B| exactly (both arrays are distinct), so
    # only the intersect is ever materialized per pair — the former
    # array_union scan was the other half of the per-pair cost
    # (measured at sf0.1: 2.6-2.8 → 1.2-1.5 s warm). The J ≥ 0.3 gate is the
    # EXACT integer inequality 13·i ≥ 3·(n_a + n_b) (algebra of
    # i/(n_a+n_b−i) ≥ 3/10) — no double compares a boundary.
    i = F.size(F.array_intersect("g_a", "g_b"))
    return (
        probes.join(
            b,
            (F.col("probe") == F.col("bkt"))
            & (F.col("doc_a") < F.col("doc_b"))
            & size_ok,
        )
        .withColumn("i", i)
        .filter(13 * F.col("i") >= 3 * (F.col("n_a") + F.col("n_b")))
        .select("doc_a", "doc_b", "i", "n_a", "n_b")
    )


@query(
    "jaccard_threshold_curve",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents WHERE lang = 'zh'
    ), grams AS (
      SELECT doc_id,
             list_distinct(list_transform(list_zip(t[:len(t)-1], t[2:]),
                                          s -> s[1] || ' ' || s[2])) AS g,
             CAST(floor(log2(len(list_distinct(
               list_transform(list_zip(t[:len(t)-1], t[2:]), s -> s[1] || ' ' || s[2])
             )))) AS BIGINT) AS bkt
      FROM toks WHERE len(t) >= 2
    ), probes AS (
      SELECT doc_id, g, unnest([bkt - 2, bkt - 1, bkt, bkt + 1, bkt + 2]) AS probe
      FROM grams
    ), stats AS (
      SELECT i, na, nb FROM (
        SELECT len(list_intersect(a.g, b.g)) AS i,
               len(a.g) AS na, len(b.g) AS nb
        FROM probes a JOIN grams b ON a.probe = b.bkt AND a.doc_id < b.doc_id
                                   AND 3 * greatest(len(a.g), len(b.g))
                                       <= 10 * least(len(a.g), len(b.g))
      ) WHERE 13 * i >= 3 * (na + nb)
    ), fanned AS (
      SELECT k, i, na, nb
      FROM stats, UNNEST([3, 4, 5, 6, 7, 8, 9]) AS t(k)
      WHERE (10 + k) * i >= k * (na + nb)
    )
    SELECT CAST(k AS DOUBLE) / 10 AS threshold,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CAST(CAST(i AS DOUBLE) / (na + nb - i) AS DECIMAL(30,6)))
                AS DOUBLE) / COUNT(*) AS mean_jaccard
    FROM fanned GROUP BY k ORDER BY threshold
    """,
    tags=("U4",),
    crossover=False,  # same pathology as ngram_jaccard_pairs: key-shift
    # replication clones document TEXT, so every replica pair is an exact
    # near-dup — pair count (and wall, BOTH engines) grows ~replicate²
    # (soak: 0.9 s at 1× → 218 s at 10×, a fixture artifact, not a plan
    # property; real corpora don't 10×-duplicate every document)
)
def jaccard_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4] Dedup-threshold tuning curve: surviving pair count and mean
    similarity at every candidate Jaccard cutoff 0.3..0.9 — the
    artifact a corpus curator reads before choosing the near-dup
    threshold (too low merges distinct documents, too high leaves
    near-dups in the training set). The expensive blocked pair kernel
    (``_bigram_pair_stats``) runs ONCE; the sweep is a 7-way literal
    fan of two-int rows, so adding thresholds is free — the same
    evaluate-many-settings-in-one-pass shape as ``ivf_probe_sweep``
    and ``minhash_band_sweep``. Every threshold gate is the EXACT
    integer inequality (10+k)·i ≥ k·(n_a+n_b) (algebra of
    i/(n_a+n_b−i) ≥ k/10 — no double ever meets a boundary), and the
    mean routes through ``davg``'s order-independent decimal
    accumulation. Thresholds with zero survivors emit no row in either
    engine (empty groups don't exist)."""
    stats = _bigram_pair_stats(spark, sf_dir).select("i", "n_a", "n_b")
    fanned = stats.select(
        "i",
        "n_a",
        "n_b",
        F.explode(F.array(*[F.lit(k) for k in range(3, 10)])).alias("k"),
    ).filter(
        (10 + F.col("k")) * F.col("i") >= F.col("k") * (F.col("n_a") + F.col("n_b"))
    )
    j = F.col("i").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("i"))
    return (
        fanned.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            davg(j).alias("mean_jaccard"),
        )
        .select(
            (F.col("k").cast("double") / 10).alias("threshold"),
            "n_pairs",
            "mean_jaccard",
        )
        .orderBy("threshold")
    )


#: SimHash width: 60 bits = 15 hex chars of md5 — the widest slice both
#: engines parse to the same non-negative BIGINT (16 chars could set the
#: sign bit and overflow DuckDB's hex cast).
SIMHASH_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
SIMHASH_HAMMING = 3


def simhash_column(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash per document: per-token hash = first 15 hex chars
    of md5 parsed as an integer (engine-portable — DuckDB's
    ``CAST('0x'||… AS BIGINT)`` yields the identical value), signed bit
    votes, reassembled sign vector. Pure expression work — one explode +
    one groupBy, no UDF."""
    tok = docs.select(id_col, F.explode(F.array_distinct(tokens())).alias("tok"))
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(
                f"v{i}"
            )
            for i in range(SIMHASH_BITS)
        ]
    )
    bits = [
        F.shiftleft(F.when(F.col(f"v{i}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"), i)
        for i in range(SIMHASH_BITS)
    ]
    acc = bits[0]
    for b in bits[1:]:
        acc = acc.bitwiseOR(b)
    return votes.select(id_col, acc.alias("simhash"))


def _simhash_cte() -> str:
    """Shared oracle CTE chain reproducing the SimHash pipeline in
    DuckDB — same md5-derived 60-bit token hashes, same sign votes, same
    band blocking and Hamming verify — terminating in a ``sh_flagged``
    relation of (doc_a, doc_b, hamming) pairs within the Hamming
    limit. CTE names are prefixed ``sim``/``sh_`` so the chain composes
    with ``_minhash_cte`` in one WITH clause (``simhash_recall``)."""
    votes = ", ".join(
        f"SUM(CASE WHEN ((h >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    sim = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END)"
        for i in range(SIMHASH_BITS)
    )
    mask = (1 << SIMHASH_BAND_BITS) - 1
    banded = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {k} AS band_id,"
        f" ((simhash >> {SIMHASH_BAND_BITS * k}) & {mask}) AS band_val FROM sims"
        for k in range(SIMHASH_BANDS)
    )
    return f"""
    sim_toks AS (
      SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
      FROM documents
    ), sim_hashed AS (
      SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM sim_toks
    ), sim_votes AS (SELECT doc_id, {votes} FROM sim_hashed GROUP BY doc_id),
    sims AS (SELECT doc_id, {sim} AS simhash FROM sim_votes),
    sim_banded AS ({banded}),
    sim_sized AS (
      SELECT doc_id, simhash, band_id, band_val,
             COUNT(*) OVER w AS bsz,
             MIN(doc_id) OVER w AS bmin,
             FIRST_VALUE(simhash) OVER
               (PARTITION BY band_id, band_val ORDER BY doc_id) AS bmin_sim
      FROM sim_banded
      WINDOW w AS (PARTITION BY band_id, band_val)
    ),
    sh_flagged AS (
      SELECT doc_a, doc_b, hamming FROM (
        SELECT DISTINCT doc_a, doc_b, hamming FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
          FROM sim_sized a JOIN sim_sized b ON a.band_id = b.band_id
                                            AND a.band_val = b.band_val
                                            AND a.doc_id < b.doc_id
          WHERE a.bsz <= {HOT_BUCKET_CAP}
          UNION ALL
          SELECT bmin AS doc_a, doc_id AS doc_b,
                 CAST(bit_count(xor(bmin_sim, simhash)) AS INT) AS hamming
          FROM sim_sized WHERE bsz > {HOT_BUCKET_CAP} AND doc_id <> bmin
        )
      ) WHERE hamming <= {SIMHASH_HAMMING}
    )"""


def _simhash_oracle() -> str:
    """DuckDB twin of ``simhash_near_dup`` (full query over the shared
    CTE chain)."""
    return f"""
    WITH {_simhash_cte()}
    SELECT doc_a, doc_b, hamming FROM sh_flagged
    ORDER BY doc_a, doc_b
    """


@query(
    "simhash_near_dup",
    oracle=_simhash_oracle(),
    tags=("U4",),
    bench=True,
    crossover=False,  # band-bucket candidate pairs grow super-linearly
    # with occupancy at 10x in both engines (measured ~24x Spark / ~11x
    # DuckDB wall growth) - the phase's signal is the scan-agg queries
    # r17: explosion-aware static width in the measured-tiny regime only
    # (interleaved same-JVM A/B at sf0.1, noop min/med: 0.851/0.934 at
    # session width 32 -> 0.543/0.588 at 8); None above the regime
    policy=_dedup_shuffle_width,
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4] SimHash near-dup: 4×15-bit band blocking, then Hamming
    distance ≤ 3 via ``bit_count(a XOR b)``. md5-derived hashes make the
    whole pipeline engine-portable — the oracle recomputes identical
    simhashes, bands, and Hamming distances in DuckDB; injected-near-dup
    unit tests additionally pin separation behavior."""
    return simhash_pairs(load_table(spark, sf_dir, "documents"))


def simhash_pairs(
    docs: DataFrame, hot_bucket_cap: int = HOT_BUCKET_CAP
) -> DataFrame:
    """Guarded SimHash pairs over an arbitrary (doc_id, text) frame: the
    60-bit code cut into 4×15-bit bands (``int_band_rows``), paired per
    bucket by ``guarded_bucket_pairs`` with the code as payload, within
    Hamming ≤ 3. Mirrored verbatim in the oracle CTE (windowed bucket
    size, min, and FIRST_VALUE simhash)."""
    banded = int_band_rows(
        simhash_column(docs), "simhash", SIMHASH_BANDS, SIMHASH_BAND_BITS
    )
    # Hamming gate BEFORE the distinct (guide §2.3 — shuffle fewer
    # rows): hamming is a pure function of the pair, so filtering first
    # drops every over-limit candidate ahead of the distinct's exchange
    # instead of after it. Identical output set (the oracle's
    # DISTINCT-then-WHERE commutes for a per-pair-deterministic column).
    # Presentation sort dropped (order-insensitive compare) — it cost a
    # rangepartitioning Exchange + global Sort on the result.
    return (
        guarded_bucket_pairs(banded, "band_val", "simhash", hot_bucket_cap)
        .filter(F.col("hamming") <= SIMHASH_HAMMING)
        .distinct()
    )


def _flagged_recall(spark: SparkSession, sf_dir: str, flagged: DataFrame) -> DataFrame:
    """(n_truth, n_flagged, n_hit, recall, precision) of a detector's
    distinct flagged (doc_a, doc_b[, ...]) pairs against the exact truth
    pairs of the corpus (``pair_audit``) — the cross-representation
    audit row of ``simhash_recall`` and ``phash.phash_recall``."""
    truth = exact_truth_pairs(load_table(spark, sf_dir, "documents"))
    return pair_audit(flagged.select("doc_a", "doc_b"), truth).select(
        "n_truth",
        F.col("n_found").alias("n_flagged"),
        "n_hit",
        _ratio("n_hit", "n_truth").alias("recall"),
        _ratio("n_hit", "n_found").alias("precision"),
    )


def _flagged_recall_oracle(cte: str, flagged: str) -> str:
    """Oracle SQL of ``_flagged_recall`` for the detector whose ``cte``
    ends in the ``flagged`` pair relation."""
    return f"""
    WITH {_minhash_cte()},
    {_TRUTH_CTE},
    {cte},
    counts AS (
      SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
             CAST((SELECT COUNT(*) FROM {flagged}) AS BIGINT) AS n_flagged,
             CAST((SELECT COUNT(*) FROM {flagged} f
                   JOIN truth t ON t.doc_a = f.doc_a AND t.doc_b = f.doc_b)
                  AS BIGINT) AS n_hit
    )
    SELECT n_truth, n_flagged, n_hit,
           CASE WHEN n_truth > 0
                THEN CAST(n_hit AS DOUBLE) / n_truth END AS recall,
           CASE WHEN n_flagged > 0
                THEN CAST(n_hit AS DOUBLE) / n_flagged END AS precision
    FROM counts
    """


@query(
    "simhash_recall",
    oracle=_flagged_recall_oracle(_simhash_cte(), "sh_flagged"),
    tags=("U4",),
    crossover=False,
)
def simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4] Acceptance metric for the SimHash detector — unlike
    ``minhash_recall`` (which audits the BANDING against the similarity
    measure MinHash itself estimates), this is a cross-representation
    audit: how well does Hamming <= 3 on a 60-bit unigram SimHash
    capture the exact 3-shingle-Jaccard >= 0.8 near-dup pairs? SimHash's
    banding is lossless by pigeonhole (3 differing bits cannot touch all
    4 bands), so any miss here is the REPRESENTATION disagreeing — a
    pair of documents whose token sets are cosine-close but whose
    shingle overlap is low, or vice versa. Recall and precision against
    the shared ``exact_truth_pairs`` kernel quantify that gap, which is
    the number an operator needs when choosing which detector fronts a
    corpus dedup pass. Same audit-path scale contract as
    ``minhash_recall``: exact integer counts, engine-identical double
    ratios."""
    return _flagged_recall(spark, sf_dir, simhash_near_dup(spark, sf_dir))


def connected_components(
    edges: DataFrame,
    max_iter: int = 30,
    assume_canonical: bool = False,
    n_edges: int | None = None,
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction (Kiveris et al. 2014) — the union-find step that turns
    pairwise near-dup matches into dedup clusters. ``edges``: (src, dst)
    undirected. Returns (id, component) with component = smallest member
    id.

    Why this shape and not min-label propagation: each round's shuffle is
    bounded by the CURRENT edge count, and both star operations contract
    the graph toward a star forest geometrically — on a dense clone
    clique (the boilerplate case that is *expected* at 100 TB) the first
    large-star collapses the clique to a star in one round, so total
    shuffle stays ~linear in input edges. The r8 pointer-jumping loop
    measured 16.8× shuffle at 10× data on the densified clone-graph soak
    (SCALE.md §Round 8); with the hot-bucket star guard upstream the CC
    input is near-star already and rounds are cheap. Convergence is
    O(log² n) worst case, 2-4 rounds on real dedup graphs.

    Each round checkpoints the (shrinking) edge set — bounded plan depth,
    superseded checkpoint RDDs released by the ContextCleaner — and runs
    one count-based fixed-point check (both sides distinct, so
    "union groupBy count ≠ 2 is empty" ⇔ sets equal). At the fixed point
    of small∘large the edge set is a star forest whose centers are the
    component minima; labels read directly off the star edges.

    ``assume_canonical=True`` (r16, guide §2.4) skips the seed
    normalization job: the caller asserts ``edges`` is already a
    DISTINCT canonical pair set (src < dst strictly — no self-loops)
    with materialized lineage, which is exactly what the banded dedup
    pipelines emit (``minhash_pairs``/``phash_pairs`` end in a
    checkpointed distinct with doc_a < doc_b by construction). The
    least/greatest + distinct + checkpoint round trip over the input is
    then pure overhead — one job and one shuffle removed. Both star
    operations preserve the node set (every node of a ≥2-component stays
    a ``u`` or ``v`` through every round), so the final labels read
    directly off the star forest — leaves (v ← u) plus distinct centers
    (u ← u) — with no nodes-table join; the generic path keeps the
    left join because non-canonical inputs can carry self-loop-only
    nodes that vanish from ``e``.

    Raises ``RuntimeError`` if not converged after ``max_iter`` rounds;
    returning silently would hand the caller wrong keeper assignments."""
    if assume_canonical:
        e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        # ``n_edges``: caller-supplied row count of ``edges`` (r17 §8b —
        # a caller that checkpoints via materialize_counted already has
        # it, so the seed count job is skipped entirely; the projection
        # above preserves the count). Only honored here: the generic
        # branch transforms the edge set before counting.
        n_e = n_edges if n_edges is not None else e.count()
    else:
        nodes = (
            edges.select(F.col("src").alias("id"))
            .unionByName(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
        e = (
            edges.select(
                F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # seed checkpoint + count fused into one job (r17, guide §2.4)
        e, n_e = materialize_counted(e)

    # Data-aware loop parallelism (r16, guide §2.2/§2.4): each
    # contraction round shuffles the CURRENT edge set three times, and
    # on a small graph a session-default-width exchange is pure
    # task-scheduling overhead (32 sub-millisecond reduce tasks per
    # exchange, times 3 exchanges, times rounds). The partition count
    # derives from the MEASURED seed edge count — never a constant —
    # floored at 1 and capped at the session's own shuffle.partitions,
    # so a 100 TB edge set keeps full cluster parallelism (the knob can
    # only remove overhead from loops too small to need the width; same
    # pattern as registry's tiny-input static path). In the small
    # regime the loop runs AQE off on a child session at that width
    # (``registry.policy_session``): the checkpointed edge set is
    # re-homed onto it, every round plans there, and the result is
    # re-homed back, so nothing else planned on the caller's session
    # (another query, a streaming micro-batch) sees the narrow width.
    spark = edges.sparkSession
    _LOOP_EDGES_PER_PARTITION = 1 << 16
    if n_e < 64 * _LOOP_EDGES_PER_PARTITION:
        try:
            session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except ValueError:
            # non-integer conf value (e.g. "auto" from an external
            # resource manager): run the loop on the caller's session
            # rather than raise mid-query (ADVICE r16)
            session_parts = None
        if session_parts is not None:
            n_parts = max(1, min(session_parts, n_e // _LOOP_EDGES_PER_PARTITION + 1))
            e = _on_session(e, policy_session(spark, ExecPolicy(False, n_parts)))
    out = _cc_loop(e, n_e, nodes if not assume_canonical else None,
                   assume_canonical, max_iter)
    return _on_session(out, spark)


#: One contraction round — small-star ∘ large-star (Kiveris et al.,
#: "Connected Components in MapReduce and Beyond") — as a single SQL
#: statement over a temp view of the round's checkpointed edge set
#: (r17, VERDICT r16 ask #4 / guide §4's driver-boundary logic applied
#: to the DRIVER itself): the DataFrame form of the two star operations
#: rebuilt ~30 Column/Window objects per round, each a py4j round trip,
#: measured ~0.1-0.3 s/round of pure Python↔JVM chatter at any SF. One
#: view registration + one ``spark.sql`` parse replaces all of it; the
#: string is a module constant, so per-round Python cost is two py4j
#: calls. Large star: on doubled edges, connect each strictly larger
#: neighbor v of u to m = ``least(min(v) OVER u, u)``. The neighborhood
#: minimum is a window over the node key, not a groupBy+join-back (r10:
#: one exchange instead of two, measured 1.48 → 0.42 s per round at
#: sf0.1), and there is no intermediate distinct (r16: the small star's
#: window-min is duplicate-insensitive and its own DISTINCT
#: canonicalizes the round, so that exchange bought nothing). Small
#: star: direct each edge from its larger endpoint, m = min(u) OVER v,
#: emit leaf (m, u ≠ m) ∪ center (m, v) → DISTINCT. Pinned against a
#: reference union-find by ``test_connected_components_matches_union_find``
#: and, one round at a time, against a Python set form of the two stars
#: by ``test_cc_round_sql_equals_dataframe_form``.
_CC_ROUND_SQL = """
WITH doubled AS (
  SELECT u, v FROM {e} UNION ALL SELECT v AS u, u AS v FROM {e}
),
ls AS (
  SELECT least(min(v) OVER (PARTITION BY u), u) AS m, u, v FROM doubled
),
lout AS (SELECT m AS u, v FROM ls WHERE v > u),
withm AS (
  SELECT u, v, min(u) OVER (PARTITION BY v) AS m FROM lout
)
SELECT DISTINCT u, v FROM (
  SELECT m AS u, u AS v FROM withm WHERE u != m
  UNION ALL
  SELECT m AS u, v FROM withm
)
"""

#: Monotonic suffix for this module's temp-view names: concurrent CC
#: loops (near_dup_clusters ∥ phash_clusters in the bench's concurrent
#: phase) must never replace each other's round views.
_VIEW_SEQ = __import__("itertools").count()


def _cc_round_sql(e: DataFrame) -> DataFrame:
    """One contraction round via ``_CC_ROUND_SQL`` over a uniquely named
    temp view of ``e`` (dropped immediately — ``spark.sql`` analyzes
    eagerly, so the returned frame no longer references the view)."""
    spark = e.sparkSession
    view = f"__cc_round_{next(_VIEW_SEQ)}"
    e.createOrReplaceTempView(view)
    try:
        return spark.sql(_CC_ROUND_SQL.format(e=view))
    finally:
        spark.catalog.dropTempView(view)


def _cc_loop(
    e: DataFrame,
    n_e: int,
    nodes: DataFrame | None,
    assume_canonical: bool,
    max_iter: int,
) -> DataFrame:
    """The alternating-star contraction loop body of
    ``connected_components``; it runs on ``e``'s session."""
    for _ in range(max_iter):
        # Two-tier fixed-point check (r16, guide §2.4): both sides are
        # DISTINCT canonical sets, so unequal counts prove inequality
        # without the union-groupBy's shuffle. The round's checkpoint
        # and its count are FUSED into one job (r17, guide §2.4 —
        # materialize_counted): the count action materializes the lazy
        # localCheckpoint's blocks, so each contraction round pays one
        # job-scheduling round trip instead of two. Only equal-count
        # rounds (the convergence round, plus rare same-size
        # contractions) pay the full set-equality check.
        new_e, n_new = materialize_counted(_cc_round_sql(e))
        if n_new != n_e:
            e, n_e = new_e, n_new
            continue
        n_changed = (
            new_e.unionByName(e)
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") != 2)
            .limit(1)
            .count()
        )
        e, n_e = new_e, n_new
        if n_changed == 0:
            # star forest: every edge is (component_min, member)
            if assume_canonical:
                # node set preserved through every round (see docstring):
                # labels are the leaves plus the distinct centers — no
                # nodes-table join needed
                return e.select(
                    F.col("v").alias("id"), F.col("u").alias("component")
                ).unionByName(
                    e.select(
                        F.col("u").alias("id"), F.col("u").alias("component")
                    ).distinct()
                )
            return nodes.join(
                e.select(F.col("v").alias("id"), F.col("u").alias("component")),
                "id",
                "left",
            ).select(
                "id", F.coalesce(F.col("component"), F.col("id")).alias("component")
            )
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "alternating star contraction needs O(log^2 n) rounds worst case "
        "- raise max_iter"
    )


@query(
    "near_dup_clusters",
    oracle=f"""
    WITH RECURSIVE {_minhash_cte()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM near_dup
      UNION ALL SELECT doc_b, doc_a FROM near_dup
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    )
    SELECT id AS doc_id, MIN(r) AS keeper_doc_id
    FROM reach GROUP BY id ORDER BY doc_id
    """,
    tags=("U4",),
    bench=True,
    prepared=False,  # iterative loop materializes per-round checkpoints
    crossover=False,  # iterates to convergence; the RECURSIVE DuckDB twin
    # is super-linear at 10x
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4] Dedup cluster assignment: MinHash-verified near-dup pairs →
    connected components → keeper = smallest doc_id per cluster. This is
    the actionable dedup output (drop everything where doc_id !=
    keeper_doc_id). The oracle recomputes the same md5 minhash pairs and
    resolves components with a recursive transitive-closure CTE (min
    reachable id) — fine at oracle SF, while the Spark side's
    alternating large-star/small-star contraction is the shape that
    scales; transitivity is additionally pinned by chain-graph unit
    tests and a Hypothesis union-find equivalence property."""
    pairs = minhash_near_dup(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    # minhash_pairs ends in a checkpointed DISTINCT canonical set
    # (doc_a < doc_b strictly), so the seed-normalization job and the
    # nodes-table join are skipped (see connected_components docstring)
    comp = connected_components(pairs, assume_canonical=True)
    return comp.select(
        F.col("id").alias("doc_id"), F.col("component").alias("keeper_doc_id")
    )  # presentation sort dropped (order-insensitive compare)


@query(
    "dedup_survivors",
    oracle=f"""
    WITH RECURSIVE {_minhash_cte()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM near_dup
      UNION ALL SELECT doc_b, doc_a FROM near_dup
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ),
    clusters AS (
      SELECT id AS doc_id, MIN(r) AS keeper FROM reach GROUP BY id
    )
    SELECT d.doc_id,
           COALESCE(c.keeper, d.doc_id) AS keeper_doc_id,
           COALESCE(c.keeper, d.doc_id) = d.doc_id AS keep
    FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    ORDER BY d.doc_id
    """,
    tags=("U4",),
    prepared=False,  # builds on the iterative components loop
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4] Full-corpus dedup decision — the artifact a pipeline actually
    ships: every document with its cluster keeper (itself when
    unclustered) and a keep/drop verdict. ``filter(keep)`` IS the
    deduplicated corpus; the drop set plus keeper pointer is the
    provenance record. One broadcast-or-key-bounded left join from the
    corpus to the (small) cluster table on top of
    ``near_dup_clusters``'s star-contraction components."""
    return survivor_verdicts(
        load_table(spark, sf_dir, "documents"), near_dup_clusters(spark, sf_dir)
    )


def survivor_verdicts(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """(doc_id, keeper_doc_id, keep) for every row of ``docs``: its
    keeper in the (doc_id, keeper_doc_id) table ``clusters``, itself when
    unclustered. One key-bounded left join from the corpus to the
    (small) cluster table."""
    clusters = clusters.withColumnRenamed("keeper_doc_id", "cluster_keeper")
    keeper = F.coalesce(F.col("cluster_keeper"), F.col("doc_id"))
    return docs.select("doc_id").join(clusters, "doc_id", "left").select(
        "doc_id",
        keeper.alias("keeper_doc_id"),
        (keeper == F.col("doc_id")).alias("keep"),
    )


def _quality_survivors_oracle() -> str:
    from .text import QUALITY_SQL

    return f"""
    WITH RECURSIVE {_minhash_cte()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM near_dup
      UNION ALL SELECT doc_b, doc_a FROM near_dup
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ),
    clusters AS (
      SELECT id AS doc_id, MIN(r) AS keeper FROM reach GROUP BY id
    ),
    scored AS (
      SELECT d.doc_id,
             COALESCE(c.keeper, d.doc_id) AS cluster_keeper,
             {QUALITY_SQL} AS quality
      FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    ),
    ranked AS (
      SELECT doc_id, cluster_keeper, quality,
             MAX(quality) OVER (PARTITION BY cluster_keeper) AS maxq
      FROM scored
    ),
    best AS (
      SELECT doc_id, cluster_keeper, quality,
             MIN(CASE WHEN quality = maxq THEN doc_id END)
               OVER (PARTITION BY cluster_keeper) AS best_doc_id
      FROM ranked
    )
    SELECT doc_id, cluster_keeper, best_doc_id, quality,
           doc_id = best_doc_id AS keep
    FROM best ORDER BY doc_id
    """


@query(
    "quality_survivors",
    oracle=_quality_survivors_oracle(),
    tags=("U4", "U6"),
    prepared=False,  # builds on the iterative components loop
    crossover=False,
)
def quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4/U6] Quality-aware dedup survivorship: per near-dup cluster,
    keep the HIGHEST-quality member (ties → smallest doc_id) instead of
    ``dedup_survivors``' smallest-id keeper. This is the selection a
    training-data pipeline actually wants — a scraped clone with
    boilerplate wrapping often has a LOWER quality score than the clean
    original, and min-id keeps whichever crawled first. The quality
    column is the shared ``quality_expr`` heuristic, so the choice is
    reproducible and oracle-checked end-to-end (clusters from the
    MinHash pipeline + recursive closure in DuckDB; alternating-star
    contraction here).

    Selection is two window passes over the SAME cluster partitioning
    (max quality, then min doc_id among the argmax set) — deliberately
    not ``max_by`` on a (quality, -doc_id) struct, so both engines make
    the pick by comparing their own identically-computed rounded
    doubles, never relying on cross-engine struct-ordering semantics.
    Scale: corpus→cluster join is key-bounded (cluster table ≪ corpus);
    window partitions are bounded by cluster size, and unclustered docs
    are singleton partitions."""
    from .text import quality_expr

    clusters = near_dup_clusters(spark, sf_dir).withColumnRenamed(
        "keeper_doc_id", "cluster_keeper"
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.round(quality_expr(), 6).alias("quality")
    )
    base = d.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_keeper"), F.col("doc_id")).alias("cluster_keeper"),
        "quality",
    )
    return quality_keeper_selection(base).orderBy("doc_id")


def quality_keeper_selection(base: DataFrame) -> DataFrame:
    """Argmax-quality survivor selection over (doc_id, cluster_keeper,
    quality) rows: per cluster, ``best_doc_id`` is the smallest doc_id
    among the maximum-quality members and ``keep`` marks it. Two window
    passes over ONE cluster partitioning (single shuffle); exactly one
    keeper per cluster by construction (property-tested against a
    Python reference in test_property_based)."""
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_keeper")
    ranked = base.withColumn("maxq", F.max("quality").over(w))
    best = F.min(
        F.when(F.col("quality") == F.col("maxq"), F.col("doc_id"))
    ).over(w)
    return (
        ranked.withColumn("best_doc_id", best)
        .select(
            "doc_id",
            "cluster_keeper",
            "best_doc_id",
            "quality",
            (F.col("doc_id") == F.col("best_doc_id")).alias("keep"),
        )
    )


def _est_sql() -> str:
    return "(" + " + ".join(
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(MINHASH_PERMS)
    ) + f") / {MINHASH_PERMS}.0"


@query(
    "minhash_jaccard_estimate",
    oracle=f"""
    WITH {_minhash_cte()}
    SELECT c.doc_a, c.doc_b,
           ROUND({_est_sql()}, 6) AS est_jaccard,
           ROUND(CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.shset, sb.shset))), 6) AS exact_jaccard,
           ROUND(ABS({_est_sql()}
                     - CAST(len(list_intersect(sa.shset, sb.shset)) AS DOUBLE)
                       / len(list_distinct(list_concat(sa.shset, sb.shset)))), 6) AS abs_err
    FROM cands c
    JOIN sigs a ON a.doc_id = c.doc_a
    JOIN sigs b ON b.doc_id = c.doc_b
    JOIN sets sa ON sa.doc_id = c.doc_a
    JOIN sets sb ON sb.doc_id = c.doc_b
    ORDER BY c.doc_a, c.doc_b
    """,
    tags=("U4", "A4"),
)
def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4/A4] Sketch-accuracy audit for the MinHash signatures: for every
    banded candidate pair, the signature-based Jaccard estimate (fraction
    of agreeing minhash slots — the E[match] = J identity) next to the
    exact shingle-set Jaccard and the absolute error. This is the query a
    pipeline runs to validate its signature width before trusting banding
    at corpus scale (16 perms → stderr ≈ sqrt(J(1-J)/16) ≈ 0.1 near the
    0.8 threshold). Estimation is pure signature arithmetic (no shingle
    sets touched); the exact side is semi-join-pruned to candidate docs
    like the production verify."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    cands = minhash_candidates(sigs)
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda m: m,
        )
    )
    est = matches / F.lit(float(MINHASH_PERMS))
    cand_ids = cands.select(F.col("doc_a").alias("doc_id")).union(
        cands.select(F.col("doc_b").alias("doc_id"))
    )
    sh = (
        shingle_rows(docs.join(cand_ids.distinct(), "doc_id", "left_semi"))
        .groupBy("doc_id")
        .agg(F.collect_set("sh").alias("sh"))
    )
    exact = exact_jaccard("sh_a", "sh_b")
    return (
        cands.join(
            sigs.select(F.col("doc_id").alias("doc_a"), F.col("minhash").alias("sig_a")),
            "doc_a",
        )
        .join(
            sigs.select(F.col("doc_id").alias("doc_b"), F.col("minhash").alias("sig_b")),
            "doc_b",
        )
        .join(sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(est, 6).alias("est_jaccard"),
            F.round(exact, 6).alias("exact_jaccard"),
            F.round(F.abs(est - exact), 6).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "url_domain_dedup",
    oracle="""
    WITH u AS (
      SELECT doc_id, n_chars,
        (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
        (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
        source || '.Example.COM' ||
        '/' || lang || '/page' || CAST(doc_id % 97 AS VARCHAR) ||
        (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
        (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed' ELSE '' END) ||
        (CASE WHEN doc_id % 5 = 0 THEN '#section' ELSE '' END) AS url
      FROM documents
    ), stripped AS (
      SELECT doc_id, n_chars,
             regexp_replace(regexp_replace(url, '^[A-Za-z]+://', ''),
                            '[?#].*$', '') AS u2
      FROM u
    ), parts AS (
      SELECT doc_id, n_chars,
             regexp_replace(lower(split_part(u2, '/', 1)), '^www\\.', '') AS domain,
             regexp_replace(lower(split_part(u2, '/', 1)), '^www\\.', '')
               || regexp_replace(substring(u2, length(split_part(u2, '/', 1)) + 1),
                                 '/$', '') AS canonical_url
      FROM stripped
    ), keepers AS (
      SELECT domain, doc_id AS keeper_doc_id FROM (
        SELECT domain, doc_id,
               ROW_NUMBER() OVER (PARTITION BY domain
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM parts
      ) WHERE rn = 1
    )
    SELECT p.domain, k.keeper_doc_id,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT p.canonical_url) AS n_unique_urls
    FROM parts p JOIN keepers k ON p.domain = k.domain
    GROUP BY p.domain, k.keeper_doc_id
    ORDER BY p.domain
    """,
    tags=("U4",),
)
def url_domain_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4] URL canonicalization + domain-level keep-one — the web-crawl
    dedup pass that runs BEFORE content dedup: strip scheme, query string
    and fragment, lowercase the host, drop a ``www.`` prefix and any
    trailing slash, then collapse each domain to one representative (the
    longest document, ties to the smallest doc_id) while counting distinct
    canonical URLs per domain. The fixture has no URL column, so a noisy
    URL (mixed-case scheme/host, optional www/query/fragment/trailing
    slash) is synthesized deterministically per document in BOTH engines —
    the canonicalizer, not the synthesis, is under test.

    Scale: one shuffle on ``domain`` (the classic crawl partitioning key);
    keeper choice is an order-independent ``max_by`` so partial
    aggregation applies. A pathologically hot domain would take the
    ``salted_agg`` path (operators/skew.py); COUNT(DISTINCT url) at 100 TB
    becomes the two-stage exact distinct of ``distinct_count`` or the HLL
    sketch — same contract, mergeable."""
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(did % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".Example.COM/"),
        F.col("lang"),
        F.lit("/page"),
        (did % 97).cast("string"),
        F.when(did % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(did % 3 == 0, F.lit("?utm_source=feed")).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit("#section")).otherwise(F.lit("")),
    )
    stripped = d.select("doc_id", "n_chars", url.alias("url")).withColumn(
        "u2",
        F.regexp_replace(F.regexp_replace("url", "^[A-Za-z]+://", ""), "[?#].*$", ""),
    )
    host = F.split_part(F.col("u2"), F.lit("/"), F.lit(1))
    parts = (
        stripped.withColumn("host", host)
        .withColumn("domain", F.regexp_replace(F.lower("host"), r"^www\.", ""))
        .withColumn(
            "canonical_url",
            F.concat(
                F.col("domain"),
                F.regexp_replace(
                    F.expr("substring(u2, length(host) + 1)"), "/$", ""
                ),
            ),
        )
    )
    return (
        parts.groupBy("domain")
        .agg(
            F.max_by(
                "doc_id",
                F.struct(F.col("n_chars").alias("len"), (-did).alias("tb")),
            ).alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("canonical_url").alias("n_unique_urls"),
        )
        .orderBy("domain")
    )


@query(
    "fuzzy_prefix_join",
    oracle="""
    WITH d AS (
      SELECT doc_id, substr(text, 1, 30) AS pfx, length(text) AS len,
             substr(text, 1, 4) AS blk
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.pfx, b.pfx) AS INT) AS edit_distance
    FROM d a JOIN d b
      ON a.blk = b.blk AND a.doc_id < b.doc_id AND abs(a.len - b.len) <= 5
    WHERE levenshtein(a.pfx, b.pfx) <= 3
    ORDER BY doc_a, doc_b
    """,
    tags=("U4", "J6"),
)
def fuzzy_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4] Approximate string-match join: document pairs whose 30-char
    prefixes are within Levenshtein distance 3, blocked so the pair
    space is NEVER all-pairs — candidates must share a 4-char prefix
    block (equi-join, shuffle-bucketed) and be within 5 chars of length
    (cheap predicate inside the block). This is the fuzzy-key dedup
    primitive (near-identical titles/URLs/boilerplate headers); at
    100 TB the block key hash-partitions the corpus and each task edits
    only its block's candidates. Levenshtein is exact integer math —
    both engines return identical distances, so the driver hash-compares
    it like any exact query."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring("text", 1, 30).alias("pfx"),
        F.length("text").alias("len"),
        F.substring("text", 1, 4).alias("blk"),
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("pfx").alias("pfx_a"),
        F.col("len").alias("len_a"),
        "blk",
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("pfx").alias("pfx_b"),
        F.col("len").alias("len_b"),
        "blk",
    )
    dist = F.levenshtein("pfx_a", "pfx_b")
    return (
        a.join(
            b,
            (a["blk"] == b["blk"])
            & (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= 5),
            how="inner",
        )
        .filter(dist <= 3)
        .select("doc_a", "doc_b", dist.cast("int").alias("edit_distance"))
        .orderBy("doc_a", "doc_b")
    )


@query(
    "fingerprint_containment",
    # the posting cap is interpolated from FP_POSTING_CAP so engine and
    # oracle can never silently desync (ADVICE r9)
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, pos, tok FROM (
        SELECT doc_id,
               generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) - 1 AS pos,
               unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents
      )
    ), grams AS (
      SELECT doc_id, pos,
             md5(tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w) AS gh,
             lead(tok, 2) OVER w AS tail
      FROM tok
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      QUALIFY tail IS NOT NULL
    ), fps AS (
      SELECT DISTINCT doc_id,
             MIN(gh) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM grams
    ), fp_df AS (
      SELECT fp, COUNT(*) AS fdf FROM fps GROUP BY fp
    ), kept AS (
      SELECT f.doc_id, f.fp FROM fps f JOIN fp_df USING (fp)
      WHERE fp_df.fdf <= {FP_POSTING_CAP}
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_fp FROM kept GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT p.doc_a, p.doc_b,
           CAST(p.shared AS BIGINT) AS shared_fp,
           CAST(p.shared AS DOUBLE) / LEAST(sa.n_fp, sb.n_fp) AS containment
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE CAST(p.shared AS DOUBLE) / LEAST(sa.n_fp, sb.n_fp) >= 0.5
    ORDER BY doc_a, doc_b
    """,
    tags=("U4", "U6"),
)
def fingerprint_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4] Substring-level containment detection — the dedup rung the
    whole-document similarity family misses: doc A largely CONTAINED in
    doc B (quote farms, concatenated crawls, boilerplate-wrapped
    copies). Reuses the winnowing fingerprints (MOSS scheme — any shared
    token run of >= k+w-1 tokens shares a fingerprint), self-joined
    BUCKET-WISE on the fingerprint hash (equi-join; never all-pairs),
    then containment = |fp(A) ∩ fp(B)| / min(|fp(A)|, |fp(B)|) — the
    SMALLER document is the one being contained, so the denominator must
    not depend on which side got the lower doc_id (ADVICE r6: a fixed
    /|fp(A)| made a big-lower-id ⊃ small-higher-id pair undetectable).
    Exact integer numerator/denominator keep the double ratio
    engine-identical.

    Hot-posting guard (r9, same skew class as the LSH hot-bucket cap): a
    fingerprint carried by b documents yields O(b²) pair rows in the
    bucket join, and at 100 TB a boilerplate chunk's fingerprint IS
    carried by millions of documents. Fingerprints whose posting length
    exceeds ``FP_POSTING_CAP`` are dropped from BOTH the pair join and
    the per-doc denominators (a fingerprint shared that widely
    identifies boilerplate, not containment — the same rationale as
    ``boilerplate_ngrams``); the cap is mirrored verbatim in the oracle
    (``fp_df``/``kept`` CTEs) so the driver compare stays exact either
    way. Scale: the fp table hash-partitions on fp ONCE — the posting
    count is a window ``count`` over the fp key carried to each posting
    row in the same exchange (the r9 shape aggregated counts then
    equi-joined them back, shuffling the posting table a second time;
    the r10 window-star rewrite's pattern, measured 2.9 → 2.1 s at
    sf0.1) — then on doc for the two size joins; every group is
    cap-bounded."""
    from pyspark.sql import Window

    from .text import winnow_fingerprints

    all_fps = winnow_fingerprints(spark, sf_dir)
    fps = (
        all_fps.withColumn(
            "fdf", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .filter(F.col("fdf") <= FP_POSTING_CAP)
        .select("doc_id", "fp")
    )
    sizes = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    pairs = (
        a.join(b, (a["fp"] == b["fp"]) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sizes_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a"))
    sizes_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b"))
    containment = F.col("shared").cast("double") / F.least("n_fp_a", "n_fp_b")
    return (
        pairs.join(sizes_a, "doc_a")
        .join(sizes_b, "doc_b")
        .filter(containment >= 0.5)
        .select(
            "doc_a",
            "doc_b",
            F.col("shared").cast("bigint").alias("shared_fp"),
            containment.alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "fuzzy_block_recall",
    oracle="""
    WITH d AS (
      SELECT doc_id, substr(text, 1, 30) AS pfx, length(text) AS len,
             substr(text, 1, 4) AS blk
      FROM documents WHERE doc_id % 4 = 0
    ), truth AS (
      SELECT CASE WHEN a.blk = b.blk AND abs(a.len - b.len) <= 5
                  THEN 1 ELSE 0 END AS blocked,
             CASE WHEN a.blk <> b.blk THEN 1 ELSE 0 END AS missed_block,
             CASE WHEN a.blk = b.blk AND abs(a.len - b.len) > 5
                  THEN 1 ELSE 0 END AS missed_band
      FROM d a JOIN d b ON a.doc_id < b.doc_id
      WHERE levenshtein(a.pfx, b.pfx) <= 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(COALESCE(SUM(blocked), 0) AS BIGINT) AS n_blocked,
           CAST(COALESCE(SUM(missed_block), 0) AS BIGINT) AS n_missed_block,
           CAST(COALESCE(SUM(missed_band), 0) AS BIGINT) AS n_missed_band,
           CASE WHEN COUNT(*) > 0
                THEN CAST(SUM(blocked) AS DOUBLE) / COUNT(*) END AS recall
    FROM truth
    """,
    tags=("U4", "J6"),
    crossover=False,
)
def fuzzy_block_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4/J6] Acceptance metric for ``fuzzy_prefix_join``'s blocking:
    the 4-char-prefix block + length band is LOSSY by design (an edit in
    the first 4 characters moves a document to a different block; a
    length drift beyond the band drops the pair before Levenshtein
    runs) — this query measures exactly how lossy, on a deterministic
    1-in-4 doc_id sample where the UNBLOCKED all-pairs Levenshtein
    ground truth is affordable. Output splits the misses by cause
    (block-key vs length-band), which tells an operator which knob to
    widen. The all-pairs self-join here is the AUDIT path and the reason
    the sample exists: ~(n/4)²/2 prefix comparisons, bounded and
    documented, never run against the full corpus — production blocking
    remains ``fuzzy_prefix_join``. Exact integer counts; the recall is
    one double division, engine-identical."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 4 == 0)
        .select(
            "doc_id",
            F.substring("text", 1, 30).alias("pfx"),
            F.length("text").alias("len"),
            F.substring("text", 1, 4).alias("blk"),
        )
    )
    a, b = d.alias("a"), d.alias("b")
    # deliberate bounded all-pairs (audit sample only): the < condition
    # yields a broadcast-nested-loop over the tiny sampled side
    pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).filter(
        F.levenshtein(F.col("a.pfx"), F.col("b.pfx")) <= 3
    )
    blocked = (F.col("a.blk") == F.col("b.blk")) & (
        F.abs(F.col("a.len") - F.col("b.len")) <= 5
    )
    missed_block = F.col("a.blk") != F.col("b.blk")
    missed_band = (F.col("a.blk") == F.col("b.blk")) & (
        F.abs(F.col("a.len") - F.col("b.len")) > 5
    )
    flag = lambda c: F.coalesce(  # noqa: E731
        F.sum(F.when(c, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
    ).cast("bigint")
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        flag(blocked).alias("n_blocked"),
        flag(missed_block).alias("n_missed_block"),
        flag(missed_band).alias("n_missed_band"),
        F.when(
            F.count(F.lit(1)) > 0,
            flag(blocked).cast("double") / F.count(F.lit(1)),
        ).alias("recall"),
    )


#: Band configurations for the LSH operating-curve sweep: all exact
#: divisors of the 16-perm signature, from conservative (2 bands × 8
#: rows: candidates need an 8-minhash run to agree) to aggressive
#: (16 × 1: any single shared minhash pairs the docs).
_SWEEP_CONFIGS = ((2, 8), (4, 4), (8, 2), (16, 1))


def _sweep_oracle() -> str:
    """Oracle SQL for ``minhash_band_sweep``: per-config band/candidate
    CTEs over the SAME ``sigs`` relation, counted against the exact
    truth set."""
    cfg_ctes, cfg_rows = [], []
    for nb, nr in _SWEEP_CONFIGS:
        band_selects = " UNION ALL ".join(
            "SELECT doc_id, {b} AS band_id, md5({parts}) AS band_hash FROM sigs".format(
                b=b, parts="||".join(f"mh{b * nr + r}" for r in range(nr))
            )
            for b in range(nb)
        )
        cfg_ctes.append(
            f"""bands_{nb} AS ({band_selects}),
    cands_{nb} AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands_{nb} a JOIN bands_{nb} b ON a.band_id = b.band_id
                                          AND a.band_hash = b.band_hash
                                          AND a.doc_id < b.doc_id
    )"""
        )
        cfg_rows.append(
            f"""SELECT CAST({nb} AS INT) AS n_bands, CAST({nr} AS INT) AS n_rows,
           CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT COUNT(*) FROM cands_{nb}) AS BIGINT) AS n_candidates,
           CAST((SELECT COUNT(*) FROM cands_{nb} c
                 JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
                AS BIGINT) AS n_hits"""
        )
    return (
        ",\n    ".join(cfg_ctes)
        + ", rows_ AS (" + " UNION ALL ".join(cfg_rows) + ")"
        + """
    SELECT n_bands, n_rows, n_truth, n_candidates, n_hits,
           CASE WHEN n_truth > 0
                THEN CAST(n_hits AS DOUBLE) / n_truth END AS recall,
           CASE WHEN n_candidates > 0
                THEN CAST(n_hits AS DOUBLE) / n_candidates END AS candidate_precision
    FROM rows_ ORDER BY n_bands"""
    )


@query(
    "minhash_band_sweep",
    oracle=f"WITH {_minhash_cte()},\n    {_TRUTH_CTE},\n    {_sweep_oracle()}",
    tags=("U4",),
    crossover=False,
)
def minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4] LSH operating curve for the MinHash dedup family — recall AND
    candidate precision as a function of the band split, over the SAME
    16-permutation signatures production uses: the dedup counterpart of
    ``ivf_probe_sweep`` (which plays this role for ANN). One row per
    (bands × rows) divisor config from 2×8 to 16×1; the acceptance
    property is the LSH S-curve itself — recall is monotonically
    non-decreasing and candidate precision non-increasing as bands grow
    (more bands = looser collision requirement), which is what lets an
    operator CHOOSE a config against a recall target instead of
    trusting the 4×4 default blindly. Hits are ``candidates ∩ truth``
    (a pair passes the exact rounded-Jaccard ≥ 0.8 verify iff it is in
    the truth set, so no per-config Jaccard pass is needed).

    All counts are exact integers from engine-identical md5 pipelines;
    ratios are single double divisions. Truth is the AUDIT-path
    inverted-index kernel (see ``minhash_recall`` for its scale
    contract). One pass: the signatures explode into all 30 bands of the
    four configs tagged (n_bands, n_rows), ONE self-join on (n_bands,
    band_id, band_hash) pairs every config, and ``pair_audit`` scores
    all four against one read of the truth — no persist, no
    per-config action (15 jobs per invocation at sf0.1); at lake scale,
    one probe of one stored signature table."""
    docs = load_table(spark, sf_dir, "documents")
    bands = F.array(
        *[
            _band(b, nr, F.lit(nb).alias("n_bands"), F.lit(nr).alias("n_rows"))
            for nb, nr in _SWEEP_CONFIGS
            for b in range(nb)
        ]
    )
    banded = minhash_signatures(docs).select(
        "doc_id", F.explode(bands).alias("band")
    ).select("doc_id", "band.*")
    key = ("n_bands", "band_id", "band_hash")
    cands = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            [F.col(f"a.{c}") == F.col(f"b.{c}") for c in key]
            + [F.col("a.doc_id") < F.col("b.doc_id")],
        )
        .select(
            "a.n_bands",
            "a.n_rows",
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # pure-plan literal (inline over a one-row Range): createDataFrame
    # would plant a LogicalRDD in this prepared query's cached plan
    configs = spark.range(1).select(
        F.inline(
            F.array(
                *[
                    F.struct(F.lit(nb).alias("n_bands"), F.lit(nr).alias("n_rows"))
                    for nb, nr in _SWEEP_CONFIGS
                ]
            )
        )
    )
    audit = pair_audit(cands, exact_truth_pairs(docs), configs)
    return audit.select(
        "n_bands",
        "n_rows",
        "n_truth",
        F.col("n_found").alias("n_candidates"),
        F.col("n_hit").alias("n_hits"),
        _ratio("n_hit", "n_truth").alias("recall"),
        _ratio("n_hit", "n_found").alias("candidate_precision"),
    ).orderBy("n_bands")


@query(
    "dedup_cluster_stats",
    oracle=f"""
    WITH RECURSIVE {_minhash_cte()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM near_dup
      UNION ALL SELECT doc_b, doc_a FROM near_dup
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ),
    clusters AS (SELECT id AS doc_id, MIN(r) AS keeper FROM reach GROUP BY id),
    sizes AS (
      SELECT keeper, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM clusters GROUP BY keeper
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size - 1) AS BIGINT) AS docs_removed
    FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """,
    tags=("U4",),
    prepared=False,  # builds on the iterative components loop
    crossover=False,
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4] Cluster-size histogram of the near-dup components — the
    dedup observability readout an operator checks BEFORE trusting a
    keeper assignment: how many clusters of each size, and how many
    documents each size class removes (size − 1 per cluster). A sudden
    mass in large sizes is the classic symptom of a too-loose banding
    (or a boilerplate shingle bridging unrelated docs) — this histogram
    is where that failure is visible, making it the monitoring
    companion of ``minhash_band_sweep`` (which tunes the config) and
    ``corpus_build_funnel`` (which audits the attrition).

    Composes the verified ``near_dup_clusters`` assignment; two tiny
    aggregations on top (keeper grain, then size grain). All counts
    exact. At scale the cluster table is pairs-bounded — orders of
    magnitude below the corpus — so the histogram is free."""
    clusters = near_dup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("keeper_doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum(F.col("cluster_size") - 1).cast("bigint").alias("docs_removed"),
        )
        .orderBy("cluster_size")
    )


def _minhash_cte_sfx(
    suffix: str,
    hot_bucket_cap: int | None = HOT_BUCKET_CAP,
    source: str = "documents",
) -> str:
    """``_minhash_cte`` with every CTE name suffixed and the source
    relation swapped — lets one WITH clause carry TWO independent
    minhash chains (``incremental_clusters``: a guarded base-corpus
    chain next to the unguarded full-corpus delta chain)."""
    import re

    cte = _minhash_cte(hot_bucket_cap)
    cte = cte.replace("FROM documents", f"FROM {source}")
    for name in (
        "sized_bands", "near_dup", "hashed", "seeded",
        "grams", "toks", "sigs", "bands", "cands", "sets",
    ):
        cte = re.sub(rf"\b{name}\b", f"{name}{suffix}", cte)
    return cte


@query(
    "incremental_clusters",
    oracle=f"""
    WITH RECURSIVE
    {_minhash_cte_sfx("_b", source=f"(SELECT * FROM documents WHERE doc_id % {INCR_DELTA_MOD} <> 0)")},
    {_minhash_cte(hot_bucket_cap=None)},
    pair_edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM near_dup_b
      UNION
      SELECT doc_a, doc_b FROM near_dup
      WHERE doc_a % {INCR_DELTA_MOD} = 0 OR doc_b % {INCR_DELTA_MOD} = 0
    ),
    edges AS (
      SELECT src, dst FROM pair_edges
      UNION ALL SELECT dst, src FROM pair_edges
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    )
    SELECT id AS doc_id, MIN(r) AS keeper_doc_id
    FROM reach GROUP BY id ORDER BY doc_id
    """,
    tags=("U4",),
    prepared=False,  # two iterative CC loops materialize checkpoints
    crossover=False,
)
def incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4] Nightly-delta CLUSTER maintenance — the missing incremental
    rung above ``minhash_incremental``: last night's cluster assignment
    is merged with tonight's delta-involving pairs WITHOUT re-running
    connected components over the whole corpus's pair set. Docs with
    ``doc_id % 10 == 0`` play the delta. Standing state is the base
    corpus's star edges (keeper → member, one row per clustered doc —
    exactly what ``near_dup_clusters`` persists); the merge contracts
    (star edges ∪ delta pairs), whose size is #clustered-base-docs +
    #delta pairs — independent of the base PAIR set's size, the term
    that grows quadratically inside clone cliques. Star edges preserve
    base connectivity and minima, so merged components equal a full
    recompute over (base pairs ∪ delta pairs); the oracle closes over
    exactly that union — the guarded base chain (suffixed CTEs) next to
    the unguarded delta probe chain, mirroring the Spark composition
    CTE-for-CTE. Output: (doc_id, keeper_doc_id) for every clustered
    doc, delta-merged clusters re-keyed to the new global min."""
    docs = load_table(spark, sf_dir, "documents")
    is_delta = (F.col("doc_id") % INCR_DELTA_MOD) == 0
    base, delta = docs.filter(~is_delta), docs.filter(is_delta)
    base_star = (
        connected_components(
            minhash_pairs(base).select(
                F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
            )
        )
        .filter(F.col("id") != F.col("component"))
        .select(F.col("component").alias("src"), F.col("id").alias("dst"))
    )
    delta_pairs = minhash_incremental_pairs(base, delta).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    merged = connected_components(base_star.unionByName(delta_pairs))
    return merged.select(
        F.col("id").alias("doc_id"), F.col("component").alias("keeper_doc_id")
    )


# ---------------------------------------------------------------------------
# Exact substring dedup (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better" — the ExactSubstr pass a corpus build runs
# AFTER document-level near-dup): find every maximal character span of
# length >= EXACT_SUBSTR_WINDOW that occurs at least twice anywhere in the
# corpus (across docs or within one), so the pipeline can drop the
# repeated span from all-but-one occurrence. The paper builds a corpus
# suffix array; the distributed re-expression is the sorted-ngram-run
# equivalence: a span of length M >= W repeats iff all of its M-W+1
# overlapping W-grams repeat, so (1) bucket every W-gram by its text,
# (2) keep positions whose gram occurs >= 2 times, (3) merge runs of
# consecutive duplicated positions per doc back into maximal spans
# (gaps-and-islands). Work is corpus-linear: one exchange keyed on the
# gram (the same order-of-magnitude blowup the suffix array pays — W
# bytes per position), then a doc-keyed pass over the FILTERED duplicated
# positions only.

#: Minimum repeated-span length in characters. The paper uses 50 BPE
#: tokens on The Pile; this corpus is short synthetic prose, so 40 chars
#: keeps the same "longer than any plausible coincidence" property while
#: leaving non-trivial output at every fixture sf.
EXACT_SUBSTR_WINDOW = 40


def repeated_substring_spans(docs: DataFrame, window: int = EXACT_SUBSTR_WINDOW) -> DataFrame:
    """Maximal repeated spans (doc_id, span_start, span_len), 1-indexed.

    Shuffle shape at 100 TB (the reason each step looks the way it does):

    * Gram occurrence counting is ``groupBy(gram).count()`` — partial
      (map-side) aggregation collapses each scan task's repeats before
      the exchange, and the reduce side holds one row per DISTINCT gram.
      A ``count() OVER (PARTITION BY gram)`` window would ship every
      occurrence of every gram to one task with no partial agg — a
      boilerplate gram repeated 10^9 times becomes one unsplittable
      straggler. The groupBy keeps the skew on the JOIN below, where AQE
      skew-join splitting applies.
    * Membership is a ``left_semi`` join of grams against the >=2-count
      gram set: semi-join ships no payload back and stops probing a
      bucket at first match.
    * The island merge shuffles ONLY duplicated positions (filtered
      before the exchange — ~9% of grams on this corpus), keyed by
      doc_id; ``pos - row_number()`` is constant exactly on runs of
      consecutive duplicated positions, so one hash aggregation emits
      each maximal span.

    The gram exchange carries the gram TEXT (W bytes/position — the
    oracle-exact choice); a 100 TB deployment would pre-filter with an
    8-byte ``xxhash64`` exchange and re-verify survivors on text,
    trading one extra corpus scan for ~W/8 of the shuffle bytes. The
    semantics (this function) are unchanged by that swap.
    """
    docs = docs.filter(F.length("text") >= window)
    grams = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - (window - 1))
        ).alias("pos"),
    ).select(
        "doc_id",
        "pos",
        F.substring(F.col("text"), F.col("pos"), F.lit(window)).alias("g"),
    )
    dup_grams = grams.groupBy("g").count().filter(F.col("count") >= 2).select("g")
    dup_pos = grams.join(dup_grams, "g", "left_semi").select("doc_id", "pos")
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = dup_pos.withColumn(
        "island", F.col("pos") - F.row_number().over(w)
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") - F.min("pos") + window).cast("bigint").alias("span_len"),
        )
        .select("doc_id", "span_start", "span_len")
        .orderBy("doc_id", "span_start")
    )


@query(
    "exact_substring_spans",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, i AS pos, substr(text, i, {EXACT_SUBSTR_WINDOW}) AS g
      FROM documents,
           LATERAL (SELECT unnest(generate_series(
             1, length(text) - {EXACT_SUBSTR_WINDOW - 1})) AS i) t
      WHERE length(text) >= {EXACT_SUBSTR_WINDOW}
    ), dup AS (
      SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2
    ), duppos AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM grams WHERE g IN (SELECT g FROM dup)
    )
    SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) - MIN(pos) + {EXACT_SUBSTR_WINDOW} AS BIGINT) AS span_len
    FROM duppos GROUP BY doc_id, island
    ORDER BY doc_id, span_start
    """,
    tags=("U4",),
)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4] ExactSubstr dedup span map (Lee et al. 2022): every maximal
    character span of length >= {W} occurring >= 2 times in the corpus,
    per document — the remove-the-repeated-span-inside-a-kept-doc pass
    that runs AFTER document-level near-dup in a 100 TB corpus build
    (MinHash keeps one doc per near-dup cluster; this finds the
    boilerplate/quote spans REPEATED INSIDE kept docs). Blocked on the
    W-gram text — never all-pairs, never a suffix array on one machine.
    Downstream policy (keep first occurrence, cut the rest) is a trivial
    join against this map; emitting the map keeps the operator
    deterministic and engine-checkable. Exactness: pure integer/string
    ops — positions are 1-indexed in both engines, spans close over
    ``max(pos) + W - 1``."""
    return repeated_substring_spans(load_table(spark, sf_dir, "documents"))


@query(
    "exact_substring_dedup_apply",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, i AS pos, substr(text, i, {EXACT_SUBSTR_WINDOW}) AS g
      FROM documents,
           LATERAL (SELECT unnest(generate_series(
             1, length(text) - {EXACT_SUBSTR_WINDOW - 1})) AS i) t
      WHERE length(text) >= {EXACT_SUBSTR_WINDOW}
    ), dup AS (
      SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2
    ), duppos AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM grams WHERE g IN (SELECT g FROM dup)
    ), spans AS (
      SELECT doc_id, MIN(pos) AS span_start,
             MAX(pos) - MIN(pos) + {EXACT_SUBSTR_WINDOW} AS span_len
      FROM duppos GROUP BY doc_id, island
    ), ranked AS (
      SELECT s.doc_id, s.span_start, s.span_len,
             ROW_NUMBER() OVER (
               PARTITION BY substr(d.text, CAST(s.span_start AS INT),
                                   CAST(s.span_len AS INT))
               ORDER BY s.doc_id, s.span_start) AS rk
      FROM spans s JOIN documents d USING (doc_id)
    ), spanagg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cut
      FROM ranked GROUP BY doc_id
    ), cutspans AS (
      SELECT doc_id, span_start AS s, span_start + span_len - 1 AS e
      FROM ranked WHERE rk > 1
    ), flagged AS (
      SELECT doc_id, s, e,
             CASE WHEN MAX(e) OVER prior IS NULL
                    OR s > MAX(e) OVER prior THEN 1 ELSE 0 END AS brk
      FROM cutspans
      WINDOW prior AS (PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), merged AS (
      SELECT doc_id, MIN(s) AS ms, MAX(e) AS me
      FROM (SELECT doc_id, s, e,
                   SUM(brk) OVER (PARTITION BY doc_id ORDER BY s
                                  ROWS UNBOUNDED PRECEDING) AS isl
            FROM flagged)
      GROUP BY doc_id, isl
    ), cutagg AS (
      SELECT doc_id, CAST(SUM(me - ms + 1) AS BIGINT) AS chars_cut
      FROM merged GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(sa.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(sa.n_cut, 0) AS BIGINT) AS n_cut,
           CAST(COALESCE(ca.chars_cut, 0) AS BIGINT) AS chars_cut,
           CAST(length(d.text) - COALESCE(ca.chars_cut, 0) AS BIGINT) AS chars_kept,
           CASE WHEN length(d.text) > 0
                THEN ROUND((length(d.text) - COALESCE(ca.chars_cut, 0))
                           / CAST(length(d.text) AS DOUBLE), 6)
           END AS keep_ratio
    FROM documents d
    LEFT JOIN spanagg sa ON sa.doc_id = d.doc_id
    LEFT JOIN cutagg ca ON ca.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
    tags=("U4",),
)
def exact_substring_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4] ExactSubstr dedup APPLIED — the keep-one-occurrence policy
    over :func:`exact_substring_spans`' span map, emitted as the per-doc
    cut funnel a corpus build records (how much of each kept document
    the pass removes): identical maximal spans are grouped by their
    TEXT, the globally first occurrence (lowest (doc_id, span_start))
    is kept, every other occurrence is cut, and each doc reports
    (n_spans, n_cut, chars_cut, chars_kept, keep_ratio), including
    zero-span docs (LEFT join back to the corpus — the funnel must
    cover every document, not just flagged ones).

    ``chars_cut`` is the size of the UNION of the doc's cut spans as
    CHARACTER intervals (classic interval merge — running-max-of-end
    islands): maximal spans are disjoint in gram-POSITION space, but
    each extends W−1 characters past its last position, so two islands
    2..W−1 positions apart overlap in characters — a plain span-length
    sum would double-count the overlap and could even drive
    ``chars_kept`` negative (r14 review finding). With the union,
    0 ≤ chars_cut ≤ length(text) always, and ``keep_ratio`` guards
    zero-length docs (NULL in both engines — Spark's 0/0 divide is
    NULL, DuckDB's is NaN; the CASE makes them agree, the
    ``embedding_normalize`` discipline).

    Granularity note (documented approximation, standard for blocked
    ExactSubstr): keep-one applies at MAXIMAL-SPAN granularity — two
    docs whose repeated regions overlap but extend differently produce
    different span texts and are cut independently; the suffix-array
    formulation would arbitrate the shared core once.

    Scale: the span map is corpus-linear (see ``exact_substring_spans``);
    everything after it runs on the SPAN table (≪ corpus) — one hash
    join back to documents for the span text, one exchange on span_text
    for the keeper election, one doc-keyed interval-merge window pass
    over CUT spans only, one LEFT join to re-attach span-less docs."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    spans = repeated_substring_spans(docs)
    ranked = (
        spans.join(docs.select("doc_id", "text"), "doc_id")
        .withColumn(
            "span_text",
            F.expr("substring(text, CAST(span_start AS INT), CAST(span_len AS INT))"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("span_text").orderBy("doc_id", "span_start")
            ),
        )
        .select("doc_id", "span_start", "span_len", "rk")
    )
    cut = F.col("rk") > 1
    spanagg = ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(cut.cast("int")).cast("bigint").alias("n_cut"),
    )
    cutspans = ranked.filter(cut).select(
        "doc_id",
        F.col("span_start").alias("s"),
        (F.col("span_start") + F.col("span_len") - 1).alias("e"),
    )
    prior = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_max = F.max("e").over(prior)
    flagged = cutspans.withColumn(
        "brk",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    ).withColumn("isl", F.sum("brk").over(run))
    cutagg = (
        flagged.groupBy("doc_id", "isl")
        .agg(F.min("s").alias("ms"), F.max("e").alias("me"))
        .groupBy("doc_id")
        .agg(F.sum(F.col("me") - F.col("ms") + 1).cast("bigint").alias("chars_cut"))
    )
    n_chars = F.length("text").cast("bigint")
    return (
        docs.select("doc_id", n_chars.alias("len"))
        .join(spanagg, "doc_id", "left")
        .join(cutagg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("n_cut", F.lit(0)).cast("bigint").alias("n_cut"),
            F.coalesce("chars_cut", F.lit(0)).cast("bigint").alias("chars_cut"),
            (F.col("len") - F.coalesce("chars_cut", F.lit(0)))
            .cast("bigint")
            .alias("chars_kept"),
            F.when(
                F.col("len") > 0,
                F.round(
                    (F.col("len") - F.coalesce("chars_cut", F.lit(0)))
                    / F.col("len").cast("double"),
                    6,
                ),
            ).alias("keep_ratio"),
        )
        .orderBy("doc_id")
    )


#: The oracle's gram concat is GENERATED from SHINGLE_N (the same
#: builder expression the minhash CTE uses) so a future SHINGLE_N change
#: cannot silently leave this oracle at 3-grams while ``shingle_rows``
#: moves on (r14 review finding).
_NOVELTY_GRAM = " || ' ' || ".join(
    f"t[i+{j}]" if j else "t[i]" for j in range(SHINGLE_N)
)


@query(
    "ngram_novelty",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, greatest(len(t)-{SHINGLE_N - 1}, 0)+1),
                    i -> {_NOVELTY_GRAM})) AS sh
      FROM toks WHERE len(t) >= {SHINGLE_N}
    ), first_seen AS (
      SELECT sh, MIN(doc_id) AS first_doc FROM grams GROUP BY sh
    ), per_doc AS (
      SELECT g.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM grams g JOIN first_seen f ON f.sh = g.sh
      GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(p.n_novel, 0) AS BIGINT) AS n_novel,
           CASE WHEN p.n_shingles > 0
                THEN ROUND(p.n_novel / CAST(p.n_shingles AS DOUBLE), 6)
           END AS novelty
    FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
    tags=("U4", "U6"),
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4/U6] Per-document n-gram novelty — the fraction of a doc's
    DISTINCT 3-word shingles whose FIRST corpus occurrence (lowest
    doc_id, the ingestion-order proxy) is in that document. The
    curve of this number over ingestion order is how a corpus build
    measures SATURATION: when marginal novelty collapses, additional
    raw data is re-buying the same n-grams, and the crawl/dedup budget
    should move on — the corpus-level complement of the per-pair dedup
    family (a doc can be 0.9-novel yet near-dup-free, or 0.1-novel with
    no single near-dup neighbor).

    Exactness: everything is integer/string — distinct shingles per doc,
    min-doc_id first-seen election, one integer ratio rounded at the
    end; zero-shingle docs (< 3 tokens) report 0/0/NULL identically.

    Scale: corpus-linear — one distinct over (doc, shingle) (exchange on
    the pair), one partial+final MIN per shingle (exchange on the
    shingle — the same order-of-magnitude blowup every shingle pipeline
    here pays), one join back (same key, co-partitioned), one per-doc
    aggregation. No windows over the corpus, no pair set."""
    docs = load_table(spark, sf_dir, "documents")
    grams = shingle_rows(docs).select("doc_id", "sh").distinct()
    first_seen = grams.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(first_seen, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("bigint").alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
            F.when(
                F.col("n_shingles") > 0,
                F.round(
                    F.col("n_novel").cast("double") / F.col("n_shingles"), 6
                ),
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )
