"""Similarity search over ``embeddings`` (SURVEY §2.10 U5; north-star
"similarity search": brute-force cosine baseline + LSH-bucketed scale path).

Numeric determinism: all math runs in DOUBLE with left-to-right
accumulation over the 64-dim arrays (``F.aggregate`` folds in array order;
DuckDB's list functions iterate in order) so scores are bit-identical to
the oracle. Ranking uses the ROUNDED score + vec_id tie-break so ordering
is stable under any ULP noise.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.core import davg, dsum
from ..registry import query, sized

N_QUERY_VECS = 5  # vec_id 0..4 serve as the query set
TOP_K = 10
EMBED_DIM = 64  # fixture embedding width (TESTDATA.md)


def as_double(col) -> Column:
    """Element-wise double cast (HOF — only for small/one-off arrays;
    the hot path casts inline inside the unrolled ``dot``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str, dim: int = EMBED_DIM) -> Column:
    """Σ aᵢ·bᵢ in array order: ``zip_with`` multiply (with per-element
    double cast, matching the oracle's ``list_transform(e, x -> CAST(x AS
    DOUBLE))``) then a left-to-right ``aggregate`` fold — bit-identical to
    DuckDB's ``list_dot_product`` order.

    Why the higher-order-function form and not something "faster": all
    three candidates were benchmarked head-to-head on the sf0.1 corpus
    (2 000 × 64-dim, full knn query, noop-forced, warm):

    * HOF fold (this):                 ~0.35 s
    * statically unrolled 64-term expr: ~0.9 s — the flat ~350-op
      generated method defeats JIT compilation, so it executes
      deinterpreted and slower than the HOF iterator;
    * Arrow pandas UDF (numpy):         ~0.5 s — python worker
      round-trips dominate at this row count (it wins only when rows ×
      dims grows another ~2 orders of magnitude; see git history for the
      exact-fold numpy kernel if that regime arrives)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_lit(a: str, plane: list[float], dim: int = EMBED_DIM) -> Column:
    """Σ aᵢ·cᵢ against a Python float vector. The literal array is built
    as ONE parsed SQL expression (64 ``F.lit`` calls would cost a py4j
    round-trip each at plan-build time); ``repr(float)`` round-trips
    exactly and ``D`` suffixes make the literals doubles."""
    arr = F.expr("array(" + ",".join(f"{x!r}D" for x in plane) + ")")
    return dot(F.col(a), arr, dim)


def cosine(a: str, b: str) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def nonzero(e, vcol: str = "v"):
    """Drop zero-norm vectors before any cosine math: 0/0 is NaN in
    DuckDB (which ranks GREATEST under ORDER BY DESC) but NULL in Spark
    (ranked last) — an unrankable score either way, and a cross-engine
    keeper-election flip waiting for a testdata regeneration. Every
    similarity-family oracle applies the identical
    ``list_dot_product(v, v) > 0`` predicate; ``embedding_normalize``
    deliberately KEEPS zero vectors (reporting them is its job)."""
    return e.filter(dot(vcol, vcol) > 0)


def decimal_centroids(assigned, cell_col: str):
    """Broadcastable centroid table (cid, cv, cnorm) from an assignment
    relation: per-(cell, dim) DECIMAL-accumulated mean (order-independent
    under partial aggregation — DuckDB recomputes bit-identical values),
    re-assembled in dim order. The ONE copy of the parity-critical
    centroid arithmetic shared by ``ivf_ann``, ``semantic_dedup`` and
    ``kmeans_refine`` — a numeric or tie-break change here is the single
    place all three (and their oracles) must track."""
    cd = (
        assigned.select(F.col(cell_col).alias("cell"), F.posexplode("v").alias("dim", "x"))
        .groupBy("cell", "dim")
        .agg(davg("x").alias("m"))
    )
    return F.broadcast(
        cd.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
        .select(
            F.col("cell").alias("cid"),
            F.transform("dm", lambda s: s["m"]).alias("cv"),
        )
        .withColumn("cnorm", F.sqrt(dot("cv", "cv")))
    )


def top_k(
    scored: DataFrame,
    order: Column | str,
    k: int = TOP_K,
    id_col: str = "vec_id",
    by: tuple[str, ...] = ("query_id",),
) -> DataFrame:
    """The first ``k`` rows of ``scored`` per ``by`` group, ranked by
    ``order`` and then ``id_col`` ascending — the id tie-break every
    oracle's ``ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score,
    id)`` uses, so equal rounded scores cut the same rows in both
    engines. Same columns as ``scored``, in no order: the oracle compare
    is order-insensitive, and a presentation sort would cost a range
    exchange and a global sort per run."""
    w = Window.partitionBy(*by).orderBy(order, id_col)
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def recall_at_k(
    approx: DataFrame, truth: DataFrame, groups: DataFrame | None = None
) -> DataFrame:
    """Per-query recall@k of the approximate top-k rows ``approx``
    (query_id, vec_id) against the exact top-k ``truth``: (*groups,
    query_id, n_hits, recall_at_k) for every query of ``truth`` — times
    every row of the optional ``groups`` literal spine (methods, probe
    counts), whose columns also tag ``approx``'s rows — with 0 hits where
    nothing matched. ``truth`` is at most ``N_QUERY_VECS·TOP_K`` rows
    and is broadcast-pinned: under the tiny-input AQE-off policy no
    runtime conversion would rescue a sort-merge hit join."""
    keys = [*(groups.columns if groups is not None else []), "query_id"]
    truth = truth.select("query_id", "vec_id")
    spine = truth.select("query_id").distinct()
    if groups is not None:
        spine = spine.crossJoin(F.broadcast(groups))
    hits = (
        approx.join(F.broadcast(truth), ["query_id", "vec_id"])
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("c"))
    )
    c = F.coalesce(F.col("c"), F.lit(0))
    return spine.join(F.broadcast(hits), keys, "left").select(
        *keys,
        c.cast("bigint").alias("n_hits"),
        (c.cast("double") / F.lit(float(TOP_K))).alias("recall_at_k"),
    )


_ORACLE_COSINE = """
    WITH vecs AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      WHERE list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                             list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0
    ), q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < {nq}),
    scored AS (
      SELECT q.query_id, vecs.vec_id, vecs.label,
             ROUND(list_dot_product(q.qv, vecs.v)
                   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(vecs.v, vecs.v))),
                   6) AS cosine_sim
      FROM q JOIN vecs ON vecs.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, label, cosine_sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= {k}
"""


@query(
    "knn_bruteforce",
    oracle=_ORACLE_COSINE.format(nq=N_QUERY_VECS, k=TOP_K),
    tags=("U5",),
    bench=True,
    policy=sized,
)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U5] Brute-force cosine top-k as a vectorized Arrow kernel:
    ``mapInPandas`` computes one numpy matmul per Arrow batch (batch×dim
    @ dim×n_queries) and keeps only the per-batch top-k per query — the
    map-side partial top-k — so the final window ranks ≤ k·n_queries rows
    per partition instead of the full score matrix. The corpus is never
    shuffled; per-partition output is O(k·n_queries).

    This replaced the earlier HOF-fold (``F.aggregate``) scoring: the
    fold evaluates interpreted per element, measured ~2.3 s at 30× bench
    volume (60 k × 64-dim) where the numpy kernel is a single ~4 MFLOP
    matmul per batch. At 1× both are floor-bound (~0.3 s).

    The 5-row query-vector ``collect()`` is deliberate driver work: an
    ANN service receives query vectors from the caller; shipping them
    into the kernel closure is the broadcast. Scores are rounded
    HALF-UP at 6 digits inside the kernel (sign-aware floor, matching
    ``F.round``/DuckDB ``ROUND``) before ranking, so the float64 pairwise
    summation order inside numpy's matmul (vs the oracle's sequential
    ``list_dot_product`` fold) cannot perturb the ranking or the compare:
    pre-rounding ULP spread ~1e-15 only flips a 6-digit rounding on an
    exact .5e-6 boundary, which cosine ratios of hashed float32 vectors
    do not hit."""
    import numpy as np
    import pandas as pd

    from ..registry import tiny_input

    e = nonzero(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", F.col("embedding").alias("v")
        )
    )
    if tiny_input(sf_dir):
        # Tiny regime (r17, guide §4.2): 16 single-digit-KB Arrow tasks
        # pay 16 Python-worker round trips for a corpus whose whole
        # matmul is ~4 MFLOPs — fold to 4 (narrow coalesce, no shuffle)
        # so each worker gets a batch worth vectorizing. Identical
        # output: the per-batch top-k is a superset filter and the final
        # window ranks globally with a deterministic tiebreak. Above the
        # threshold the scan keeps full file-split width. Interleaved
        # same-JVM A/B at sf0.1 (noop, min/med of 5): 0.380/0.468 →
        # 0.328/0.388.
        e = e.coalesce(4)
    qrows = sorted(
        # project to the two columns the kernel closure needs before the
        # collect (guide §2.3/§5: the driver transfer and the scan read
        # only what crosses)
        e.select("vec_id", "v").filter(F.col("vec_id") < N_QUERY_VECS).collect(),
        key=lambda r: r["vec_id"],
    )
    Q = np.array([list(r["v"]) for r in qrows], dtype=np.float64)  # nq×dim
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    qnorms = np.sqrt((Q * Q).sum(axis=1))

    schema = "query_id long, vec_id long, label int, cosine_sim double"

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["v"].tolist(), dtype=np.float64)  # b×dim
            norms = np.sqrt((V * V).sum(axis=1))
            S = (V @ Q.T) / np.outer(norms, qnorms)  # b×nq
            S = np.where(S >= 0, np.floor(S * 1e6 + 0.5), -np.floor(-S * 1e6 + 0.5)) / 1e6
            vid = pdf["vec_id"].to_numpy()
            lab = pdf["label"].to_numpy()
            parts = []
            for j, qid in enumerate(qids):
                mask = vid != qid
                cand = pd.DataFrame(
                    {
                        "query_id": qid,
                        "vec_id": vid[mask],
                        "label": lab[mask],
                        "cosine_sim": S[mask, j],
                    }
                )
                parts.append(
                    cand.sort_values(
                        ["cosine_sim", "vec_id"], ascending=[False, True]
                    ).head(TOP_K)
                )
            yield pd.concat(parts, ignore_index=True)

    return top_k(e.mapInPandas(score, schema), F.desc("cosine_sim"))


def hyperplane(seed: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component from a hash — no
    RNG state, reproducible across engines/runs."""
    import hashlib

    out = []
    for j in range(dim):
        h = int.from_bytes(
            hashlib.sha256(f"{seed}:{j}".encode()).digest()[:8], "big", signed=False
        )
        out.append((h / 2**64) * 2.0 - 1.0)
    return out


N_PLANES = 8  # 256 buckets over the corpus


def with_lsh_bucket(df: DataFrame, vcol: str, planes: list[list[float]], out: str = "bucket") -> DataFrame:
    """Random-hyperplane LSH bucket id: bit i = sign(v · plane_i).

    Per-plane dot products are kept as separate projected columns rather
    than one combined expression — a single expression holding all
    N_PLANES × dim unrolled terms was observed to exceed janino's method
    limits and fall back to interpreted evaluation (~4× slower); the
    HOF-fold ``dot_lit`` plus per-column assembly keeps each generated
    method JIT-able."""
    sign_cols = [f"_s{i}" for i in range(len(planes))]
    for i, p in enumerate(planes):
        # sign of the ROUNDED projection — same 6-digit robustness
        # contract as every cosine compare in this module, so the oracle
        # can recompute identical buckets
        df = df.withColumn(
            sign_cols[i],
            F.when(F.round(dot_lit(vcol, p), 6) > 0, F.lit(1 << i)).otherwise(F.lit(0)),
        )
    acc = F.col(sign_cols[0])
    for c in sign_cols[1:]:
        acc = acc + F.col(c)
    return df.withColumn(out, acc).drop(*sign_cols)


def _lsh_oracle() -> str:
    """Oracle twin of ``ann_lsh_bucketed``: the hyperplanes are
    deterministic module constants, so they embed in the SQL as literal
    double arrays and DuckDB recomputes the same buckets
    (``list_dot_product`` folds in array order, matching ``dot``'s
    left-to-right accumulation — the same identity every cosine oracle in
    this module already relies on)."""
    planes = [hyperplane(s, EMBED_DIM) for s in range(N_PLANES)]
    bucket_terms = " + ".join(
        f"(CASE WHEN ROUND(list_dot_product(v, [{', '.join(repr(x) for x in p)}]), 6)"
        f" > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
    WITH vecs AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      WHERE list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                             list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0
    ), b AS (
      SELECT vec_id, label, v, {bucket_terms} AS bucket FROM vecs
    ), q AS (
      SELECT vec_id AS query_id, v AS qv, bucket AS qbucket
      FROM b WHERE vec_id < {N_QUERY_VECS}
    ), scored AS (
      SELECT q.query_id, b.vec_id, b.label,
             ROUND(list_dot_product(q.qv, b.v)
                   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(b.v, b.v))),
                   6) AS cosine_sim
      FROM q JOIN b ON b.bucket = q.qbucket AND b.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, label, cosine_sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
    ORDER BY query_id, cosine_sim DESC, vec_id
    """


@query("ann_lsh_bucketed", oracle=_lsh_oracle(), tags=("U5",))
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U5] Approximate NN via random-hyperplane LSH: bucket the corpus by
    sign-pattern (8 deterministic hyperplanes → 256 buckets), search only
    the query's bucket. At 100 TB the corpus is written bucketed-by
    ``bucket`` so a query touches 1/256th of the data with no shuffle.
    Approximate relative to exact knn, but DETERMINISTIC given the fixed
    planes — the oracle recomputes the identical buckets from the same
    plane constants, so the driver hash-compares it like any exact query;
    recall vs the brute-force baseline is additionally asserted in unit
    tests."""
    dim = EMBED_DIM
    planes = [hyperplane(s, dim) for s in range(N_PLANES)]
    e = nonzero(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", F.col("embedding").alias("v")
        )
    )
    bucketed = with_lsh_bucket(e, "v", planes).withColumn(
        "norm", F.sqrt(dot("v", "v"))
    )
    q = F.broadcast(
        bucketed.filter(F.col("vec_id") < N_QUERY_VECS).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("bucket").alias("qbucket"),
            F.col("norm").alias("qnorm"),
        )
    )
    scored = q.join(
        bucketed,
        (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        "vec_id",
        "label",
        F.round(
            dot("qv", "v") / (F.col("qnorm") * F.col("norm")), 6
        ).alias("cosine_sim"),
    )
    return top_k(scored, F.desc("cosine_sim"))


@query(
    "embedding_near_dup",
    oracle="""
    WITH vecs AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      WHERE list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                             list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                 6) AS cosine_sim
    FROM vecs a JOIN vecs b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.9
    ORDER BY vec_a, vec_b
    """,
    tags=("U5", "U4"),
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4/U5] Embedding-cosine near-duplicate pairs, blocked by ``label``
    (the cluster/blocking key) so the pair space is per-block, not global —
    the standard semantic-dedup shape for training corpora."""
    e = nonzero(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", F.col("embedding").alias("v")
        )
    )
    e = e.withColumn("norm", F.sqrt(dot("v", "v")))
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("label").alias("l_a"),
        F.col("v").alias("va"),
        F.col("norm").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("l_b"),
        F.col("v").alias("vb"),
        F.col("norm").alias("nb"),
    )
    sim = dot("va", "vb") / (F.col("na") * F.col("nb"))
    return (
        a.join(b, (F.col("l_a") == F.col("l_b")) & (F.col("vec_a") < F.col("vec_b")))
        .withColumn("cosine_sim", F.round(sim, 6))
        .filter(sim >= 0.9)
        .select("vec_a", "vec_b", "cosine_sim")
        .orderBy("vec_a", "vec_b")
    )


N_PROBE = 3  # clusters searched per query


def _ivf_oracle(n_probe: int = N_PROBE) -> str:
    """IVF oracle SQL, parametrized by the number of probed cells (the
    recall/latency knob a vector store exposes)."""
    return f"""
    WITH vecs AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      WHERE list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                             list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0
    ), cd AS (
      SELECT label AS cid, i,
             CAST(SUM(CAST(v[i] AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS m
      FROM vecs, (SELECT unnest(range(1, {EMBED_DIM + 1})) AS i) dims
      GROUP BY label, i
    ), cents AS (
      SELECT cid, list(m ORDER BY i) AS cv FROM cd GROUP BY cid
    ), c2 AS (
      SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnorm FROM cents
    ), assigned AS (
      SELECT vec_id, label, v, cell FROM (
        SELECT vecs.vec_id, vecs.label, vecs.v, c.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
                 ORDER BY ROUND(list_dot_product(vecs.v, c.cv)
                         / (sqrt(list_dot_product(vecs.v, vecs.v)) * c.cnorm), 9) DESC,
                          c.cid) AS rn
        FROM vecs CROSS JOIN c2 c
      ) WHERE rn = 1
    ), probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, c.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY ROUND(list_dot_product(q.v, c.cv)
                         / (sqrt(list_dot_product(q.v, q.v)) * c.cnorm), 9) DESC,
                          c.cid) AS rn
        FROM vecs q CROSS JOIN c2 c WHERE q.vec_id < {N_QUERY_VECS}
      ) WHERE rn <= {n_probe}
    ), scored AS (
      SELECT p.query_id, a.vec_id, a.label,
             ROUND(list_dot_product(p.qv, a.v)
                   / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))),
                   6) AS cosine_sim
      FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, label, cosine_sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
    ORDER BY query_id, cosine_sim DESC, vec_id
"""


def _centroid_model(cents_df):
    """Collapse a trained centroid table to a ONE-ROW broadcast "model"
    frame — column ``ca`` = cid-sorted array of (cid, cv, cnorm) structs.
    Bounded by design (|labels| × EMBED_DIM doubles, KB-sized at any
    corpus scale), it rides every consumer as a broadcast nested-loop
    append of a single array column: training stays IN-PLAN (one
    aggregation job inside the action — no driver collect barrier, no
    eager checkpoint, so none of the replay hazard the r11 HIGH advice
    flagged), and downstream election is a pure projection."""
    return F.broadcast(
        cents_df.agg(F.array_sort(F.collect_list(F.struct("cid", "cv", "cnorm"))).alias("ca"))
    )


def _elect_structs(vcol: str, normcol: str):
    """Per-centroid (round-9 cosine ``s``, -cid tie-break, ``cid``)
    structs for a row joined with the 1-row ``_centroid_model`` frame.
    ``array_max`` over this picks by (similarity desc, cid asc) — exactly
    the ``max_by(cid, struct(round(csim, 9), -cid))`` election the
    fan-join + groupBy-argmax form ran, as a map-only expression: the
    corpus is never fanned |centroids|× and never shuffled — the true
    100 TB IVF-assignment shape."""
    return F.transform(
        F.col("ca"),
        lambda c: F.struct(
            F.round(
                dot(F.col(vcol), c["cv"]) / (F.col(normcol) * c["cnorm"]), 9
            ).alias("s"),
            (-c["cid"]).alias("tb"),
            c["cid"].alias("cid"),
        ),
    )


def _probe_cells(max_p: int, qvcol: str = "qv", qnormcol: str = "qnorm"):
    """Top-``max_p`` probe cells for a query row joined with the model
    frame: sort the per-centroid structs ascending, reverse →
    (similarity desc, cid asc), slice the head — the same ordering the
    window-rank probe list (row_number over a query × centroid join)
    produced, with no window and no shuffle."""
    return F.slice(F.reverse(F.array_sort(_elect_structs(qvcol, qnormcol))), 1, max_p)


def _ivf_index(spark: SparkSession, sf_dir: str) -> tuple:
    """The probe-independent half of the IVF index: the 1-row centroid
    model frame, the map-only cell-assigned corpus, and the query frame.
    Split out so the probe sweep trains/assigns ONCE and varies only the
    probe set — the same "cache the assigned table, vary n_probe" shape
    an IVF dashboard runs at 100 TB.

    Training (``decimal_centroids`` — decimal-deterministic per-cluster
    means; posexplode's dim is 0-based, the oracle's range is 1-based)
    runs once inside the action as the model broadcast's build job;
    assignment is a projection over the corpus scan (``_elect_structs``).
    r11's eager ``materialize()`` + two full broadcast builds (and r10's
    repeated training jobs) are gone — measured A/B (a since-deleted
    tool, SCALE.md Round 12): every sharing strategy (checkpoint / persist /
    recompute / driver-collected literals) lands in the same 1.0-1.3 s
    floor band at sf0.1 1×-10×, so the shape with the best scale
    properties and no replay hazard wins."""
    e = nonzero(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", F.col("embedding").alias("v")
        )
    )
    e = e.withColumn("norm", F.sqrt(dot("v", "v")))
    model = _centroid_model(decimal_centroids(e, "label"))
    assigned = e.join(model).select(
        "vec_id",
        "label",
        "v",
        "norm",
        F.array_max(_elect_structs("v", "norm"))["cid"].alias("cell"),
    )
    q = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("norm").alias("qnorm")
    )
    return model, assigned, q


def _ivf_topk(
    spark: SparkSession, sf_dir: str, n_probe: int, index: tuple | None = None
) -> DataFrame:
    """[U5] IVF (inverted-file) ANN: "train" a coarse quantizer (centroid =
    per-cluster mean vector — one hash aggregation over the corpus, the
    k-means-update step), assign every vector to its nearest centroid (the
    "cell"), then search only the query's N_PROBE nearest cells. This is
    the second scale path next to ``ann_lsh_bucketed``: at 100 TB the
    corpus is written partitioned by ``cell``, so a query reads roughly
    N_PROBE/N_cells of the data with no shuffle, and the centroid table
    (KB-sized) broadcasts everywhere. The cluster seed here is the fixture's
    ``label`` column; a production build would iterate k-means from random
    seeds — placement changes recall, not the plan shape.
    Approximate relative to exact knn but DETERMINISTIC end-to-end:
    centroid means accumulate in DECIMAL (``davg`` — order-independent,
    so Spark's partial-aggregation order can't perturb them and DuckDB
    recomputes bit-identical centroids), every later dot product folds
    left-to-right, and cell/probe ranking uses rounded scores with id
    tie-breaks. The driver hash-compares it like any exact query; recall
    vs ``knn_bruteforce`` is additionally asserted in
    tests/test_extension_semantics.py.

    ``index``: a prebuilt ``_ivf_index`` result, so multi-probe callers
    (``ivf_probe_sweep``) train and assign once instead of per setting.
    """
    model, assigned, q = index if index is not None else _ivf_index(spark, sf_dir)
    # query probe list: the n_probe nearest cells per query vector, as a
    # projection on the tiny query frame joined with the 1-row model (no
    # window, no per-centroid fan-out)
    probes = F.broadcast(
        q.join(model).select(
            "query_id",
            "qv",
            "qnorm",
            F.explode(F.transform(_probe_cells(n_probe), lambda s: s["cid"])).alias(
                "cell"
            ),
        )
    )
    # search only the probed cells: broadcast the probe list into ONE
    # hash join against the map-only assigned corpus — the big side is
    # never shuffled; the only exchange in the query is the per-query
    # top-k window over the probed candidates
    scored = probes.join(assigned, "cell").filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        "label",
        F.round(dot("qv", "v") / (F.col("qnorm") * F.col("norm")), 6).alias(
            "cosine_sim"
        ),
    )
    return top_k(scored, F.desc("cosine_sim"))


@query("ivf_ann", oracle=_ivf_oracle(), tags=("U5",), policy=sized)
def ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U5] IVF ANN at the default N_PROBE — see ``_ivf_topk`` for the
    full design discussion (the builder is shared with
    ``ivf_probe_sweep``, which measures the recall/n_probe curve)."""
    return _ivf_topk(spark, sf_dir, N_PROBE)


@query(
    "embedding_normalize",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    )
    SELECT vec_id,
           CAST(len(v) AS INT) AS n_dims,
           ROUND(sqrt(list_dot_product(v, v)), 6) AS l2_norm,
           CASE WHEN list_dot_product(v, v) > 0
                THEN ROUND(v[1] / sqrt(list_dot_product(v, v)), 6)
                ELSE NULL END AS unit_x0
    FROM v ORDER BY vec_id
    """,
    tags=("U5",),
)
def embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U5] L2 norm + unit-scaled first component per embedding — the
    normalization pass that turns dot products into cosine similarity
    (normalize once, then every downstream scorer is a plain dot).
    Narrow, shuffle-free: one projection over the vector column; the
    ``dot(v, v)`` fold matches DuckDB's ``list_dot_product`` order
    bit-for-bit (see ``dot``)."""
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", as_double("embedding").alias("v"))
    norm = F.sqrt(dot("v", "v"))
    # zero-vector guard: 0/0 is NULL under Spark's non-ANSI divide but
    # NaN under DuckDB's IEEE divide — make it NULL in both engines
    unit_x0 = F.when(dot("v", "v") > 0, F.round(F.element_at("v", 1) / norm, 6))
    return v.select(
        "vec_id",
        F.size("v").cast("int").alias("n_dims"),
        F.round(norm, 6).alias("l2_norm"),
        unit_x0.alias("unit_x0"),
    ).orderBy("vec_id")


_SEMANTIC_DEDUP_ORACLE = f"""
    WITH vecs AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      WHERE list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                             list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0
    ), cd AS (
      SELECT label AS cid, i,
             CAST(SUM(CAST(v[i] AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS m
      FROM vecs, (SELECT unnest(range(1, {EMBED_DIM + 1})) AS i) dims
      GROUP BY label, i
    ), cents AS (
      SELECT cid, list(m ORDER BY i) AS cv FROM cd GROUP BY cid
    ), c2 AS (
      SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnorm FROM cents
    ), assigned AS (
      SELECT vec_id, cell, s9 FROM (
        SELECT vecs.vec_id, c.cid AS cell,
               ROUND(list_dot_product(vecs.v, c.cv)
                     / (sqrt(list_dot_product(vecs.v, vecs.v)) * c.cnorm), 9) AS s9,
               ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
                 ORDER BY ROUND(list_dot_product(vecs.v, c.cv)
                         / (sqrt(list_dot_product(vecs.v, vecs.v)) * c.cnorm), 9) DESC,
                          c.cid) AS rn
        FROM vecs CROSS JOIN c2 c
      ) WHERE rn = 1
    ), keepers AS (
      SELECT cell, vec_id AS keeper_vec_id FROM (
        SELECT cell, vec_id,
               ROW_NUMBER() OVER (PARTITION BY cell ORDER BY s9 DESC, vec_id) AS rn
        FROM assigned
      ) WHERE rn = 1
    )
    SELECT a.vec_id, a.cell, k.keeper_vec_id,
           a.vec_id <> k.keeper_vec_id AS is_dup,
           ROUND(a.s9, 6) AS centroid_sim
    FROM assigned a JOIN keepers k ON a.cell = k.cell
    ORDER BY a.vec_id
"""


@query("semantic_dedup", oracle=_SEMANTIC_DEDUP_ORACLE, tags=("U5", "U4"))
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U5+U4] Semantic dedup via embedding-cluster representatives: every
    vector is assigned to its nearest decimal-deterministic centroid (the
    ``ivf_ann`` coarse quantizer), each cluster elects ONE representative
    — the member most similar to its centroid, ties to the smallest
    vec_id — and every other member is marked a semantic duplicate with
    keeper provenance (the ``dedup_survivors`` verdict shape). This is
    the embedding-space sibling of MinHash dedup: near-identical meaning
    collapses even when the surface text shares no shingles.

    Scale: the centroid table (cells × dim doubles, KB) broadcasts; cell
    assignment is a broadcast nested-loop over the corpus — the big side
    never shuffles. Representative election is one shuffle on ``cell``
    (at 100 TB the corpus would be written partitioned by cell — see
    ``ivf_ann`` — making the election shuffle-free too). Determinism:
    centroid means accumulate in DECIMAL, ranking keys are rounded with
    id tie-breaks."""
    e = nonzero(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", F.col("embedding").alias("v")
        )
    )
    e = e.withColumn("norm", F.sqrt(dot("v", "v")))
    cents = decimal_centroids(e, "label")
    csim9 = F.round(dot("v", "cv") / (F.col("norm") * F.col("cnorm")), 9)
    assigned = (
        e.join(cents)
        .select("vec_id", "cid", csim9.alias("s9"))
        .groupBy("vec_id")
        .agg(
            F.max_by("cid", F.struct(F.col("s9"), (-F.col("cid")).alias("tb"))).alias("cell"),
            F.max(F.struct(F.col("s9"), (-F.col("cid")).alias("tb"))).getField("s9").alias("s9"),
        )
    )
    keepers = F.broadcast(
        assigned.groupBy("cell").agg(
            F.max_by(
                "vec_id", F.struct(F.col("s9"), (-F.col("vec_id")).alias("tb"))
            ).alias("keeper_vec_id")
        )
    )
    return (
        assigned.join(keepers, "cell")
        .select(
            "vec_id",
            "cell",
            "keeper_vec_id",
            (F.col("vec_id") != F.col("keeper_vec_id")).alias("is_dup"),
            F.round("s9", 6).alias("centroid_sim"),
        )
        .orderBy("vec_id")
    )


def _kmeans_centroid_cte(src: str, out_prefix: str) -> str:
    """One Lloyd update in SQL: per-cell decimal-mean centroids from an
    assignment relation ``src(cell, v)``."""
    return f"""
    {out_prefix}_cd AS (
      SELECT cell AS cid, i,
             CAST(SUM(CAST(v[i] AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS m
      FROM {src}, (SELECT unnest(range(1, {EMBED_DIM + 1})) AS i) dims
      GROUP BY cell, i
    ), {out_prefix} AS (
      SELECT cid, list(m ORDER BY i) AS cv,
             sqrt(list_dot_product(list(m ORDER BY i), list(m ORDER BY i))) AS cnorm
      FROM {out_prefix}_cd GROUP BY cid
    )"""


def _kmeans_assign_cte(cents: str, out: str) -> str:
    """One Lloyd assignment in SQL: nearest centroid by rounded cosine."""
    return f"""
    {out} AS (
      SELECT vec_id, v, cell FROM (
        SELECT vecs.vec_id, vecs.v, c.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
                 ORDER BY ROUND(list_dot_product(vecs.v, c.cv)
                         / (sqrt(list_dot_product(vecs.v, vecs.v)) * c.cnorm), 9) DESC,
                          c.cid) AS rn
        FROM vecs CROSS JOIN {cents} c
      ) WHERE rn = 1
    )"""


_KMEANS_ORACLE = f"""
    WITH vecs AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      WHERE list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                             list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0
    ), seed AS (SELECT label AS cell, v FROM vecs),
    {_kmeans_centroid_cte("seed", "c0")},
    {_kmeans_assign_cte("c0", "a1")},
    {_kmeans_centroid_cte("a1", "c1")},
    {_kmeans_assign_cte("c1", "a2")}
    SELECT a.cell,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(c.cnorm, 6) AS centroid_norm,
           ROUND(c.cv[1], 6) AS centroid_x0
    FROM a2 a JOIN c1 c ON a.cell = c.cid
    GROUP BY a.cell, c.cnorm, c.cv[1]
    ORDER BY a.cell
"""


@query("kmeans_refine", oracle=_KMEANS_ORACLE, tags=("U5",))
def kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U5] Two Lloyd iterations of k-means over the embedding corpus —
    the ITERATIVE-algorithm shape (assign → decimal-mean update →
    re-assign), still oracle-exact: every centroid mean accumulates in
    DECIMAL, every assignment ranks by a rounded cosine with cid
    tie-break, so DuckDB replays the identical two iterations as chained
    CTEs. Seeded from the fixture's label column (the ``ivf_ann``
    quantizer-training step, iterated).

    Scale: each iteration is one broadcast of the KB-sized centroid
    table + one nested-loop argmax over the corpus (big side never
    shuffles) + one (cell, dim)-grouped partial-aggregated mean. The
    iteration count is a fixed pipeline depth, not a driver-side loop:
    the whole refinement is ONE declarative plan with no collect() in
    the loop (convergence-looped variants would localCheckpoint per
    round like ``near_dup_clusters``)."""
    e = nonzero(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", as_double("embedding").alias("v")
        )
    )

    def centroids(assigned: DataFrame) -> DataFrame:
        return decimal_centroids(assigned, "cell")

    def assign(cents: DataFrame) -> DataFrame:
        s9 = F.round(
            dot("v", "cv") / (F.sqrt(dot("v", "v")) * F.col("cnorm")), 9
        )
        return (
            e.join(cents)
            .select("vec_id", "v", "cid", s9.alias("s9"))
            .groupBy("vec_id")
            .agg(
                F.max_by("cid", F.struct(F.col("s9"), (-F.col("cid")).alias("tb"))).alias(
                    "cell"
                ),
                F.first("v").alias("v"),  # constant within vec_id group
            )
        )

    c0 = centroids(e.select(F.col("label").alias("cell"), "v"))
    a1 = assign(c0)
    c1 = centroids(a1)
    a2 = assign(c1)
    return (
        a2.join(c1, a2["cell"] == c1["cid"])
        .groupBy(a2["cell"])
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.first("cnorm"), 6).alias("centroid_norm"),
            F.round(F.first(F.element_at("cv", 1)), 6).alias("centroid_x0"),
        )
        .orderBy("cell")
    )


QUANT_LEVELS = 255  # int8 code range [0, 255]


@query(
    "embedding_quantize",
    oracle=f"""
    WITH dims AS (
      SELECT vec_id, i - 1 AS dim, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ), codebook AS (
      SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM dims GROUP BY dim
    ), coded AS (
      SELECT d.vec_id, d.dim,
             CASE WHEN c.hi = c.lo THEN 0
                  ELSE CAST(least({QUANT_LEVELS}, greatest(0,
                       floor((d.x - c.lo) * {QUANT_LEVELS} / (c.hi - c.lo))))
                       AS BIGINT)
             END AS q
      FROM dims d JOIN codebook c USING (dim)
    )
    SELECT vec_id,
           COUNT(*) AS n_dims,
           CAST(SUM(q) AS BIGINT) AS code_sum,
           md5(string_agg(CAST(q AS VARCHAR), ',' ORDER BY dim)) AS code_md5
    FROM coded
    GROUP BY vec_id
    ORDER BY vec_id
    """,
    tags=("U5",),
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U5] Int8 scalar quantization of the embedding corpus — the
    vector-store compression step (4× smaller than float32, the standard
    first rung before product quantization). Per-dimension min/max
    codebook from one (dim)-grouped aggregation (min/max are exact, no
    float-summation drift), broadcast back onto the exploded dims; the
    code ``floor((x-lo)·255/(hi-lo))`` is the same double-arithmetic
    expression in both engines, so every code — including boundary cells —
    hash-matches exactly. Codes are fingerprinted per vector (md5 over
    the dim-ordered code string) plus an integer checksum. Scale: the
    codebook is O(dims) and broadcasts; the corpus explode is narrow; one
    shuffle for the per-dim stats, one for the per-vector regroup."""
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "xf")
    ).select("vec_id", "dim", F.col("xf").cast("double").alias("x"))
    codebook = dims.groupBy("dim").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    coded = dims.join(F.broadcast(codebook), "dim").select(
        "vec_id",
        "dim",
        F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("bigint")).otherwise(
            F.least(
                F.lit(QUANT_LEVELS),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (F.col("x") - F.col("lo"))
                        * QUANT_LEVELS
                        / (F.col("hi") - F.col("lo"))
                    ),
                ),
            ).cast("bigint")
        ).alias("q"),
    )
    per_vec = coded.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_dims"),
        F.sum("q").alias("code_sum"),
        F.md5(
            F.encode(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("dim", "q"))),
                        lambda s: s["q"].cast("string"),
                    ),
                    ",",
                ),
                "utf-8",
            )
        ).alias("code_md5"),
    )
    return per_vec.orderBy("vec_id")


PQ_SUBS = 4  # product-quantization subspaces (64 dims -> 4 x 16)
PQ_SUB_DIM = EMBED_DIM // PQ_SUBS
#: Codebook size k per subspace — an index DESIGN constant (FAISS trains
#: a fixed-k codebook per subspace, classically 256; the fixture's
#: 10-label training assignment sizes it here). pq_ann's wide distance
#: pivot generates one accumulator per code, so k is compile-time like
#: PQ_SUBS; tests pin that the corpus' training-label cardinality
#: matches (a testdata regeneration that changed it must fail loudly,
#: not silently mis-encode).
N_PQ_CLUSTERS = 10


def _pq_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, dim, x, sub) exploded view of the embedding
    corpus — the shared front end of the PQ family (codebook training
    and the wide distance pivot)."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "xf")
    ).select(
        "vec_id",
        "label",
        "dim",
        F.col("xf").cast("double").alias("x"),
        (F.col("dim") / PQ_SUB_DIM).cast("int").alias("sub"),
    )


@query(
    "pq_encode",
    oracle=f"""
    WITH dims AS (
      SELECT vec_id, label, i - 1 AS dim,
             CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x,
             (i - 1) // {PQ_SUB_DIM} AS sub
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ), codebook AS (
      SELECT sub, label AS cl, dim,
             CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) / COUNT(x) AS c
      FROM dims GROUP BY sub, label, dim
    ), dists AS (
      SELECT d.vec_id, d.sub, cb.cl,
             ROUND(CAST(SUM(CAST((d.x - cb.c) * (d.x - cb.c) AS DECIMAL(38,6)))
                        AS DOUBLE), 6) AS d6
      FROM dims d JOIN codebook cb ON cb.sub = d.sub AND cb.dim = d.dim
      GROUP BY d.vec_id, d.sub, cb.cl
    ), codes AS (
      SELECT vec_id, sub, cl, d6 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                     ORDER BY d6, cl) AS rn
        FROM dists
      ) WHERE rn = 1
    )
    SELECT vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_subs,
           md5(string_agg(CAST(cl AS VARCHAR), ',' ORDER BY sub)) AS pq_md5,
           CAST(SUM(CAST(d6 AS DECIMAL(38,6))) AS DOUBLE) AS recon_err
    FROM codes GROUP BY vec_id ORDER BY vec_id
    """,
    tags=("U5",),
)
def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U5] Product quantization — the vector-store compression rung
    above scalar quantization (``embedding_quantize``): the 64-dim space
    splits into PQ_SUBS=4 subspaces of 16 dims, each subspace
    gets a codebook (per-label decimal-mean centroids — the labeled-
    sample training step, same recipe as ``kmeans_refine``), and every
    vector is encoded as one code per subspace (nearest centroid by
    squared-L2, rounded-distance + label tie-break so both engines pick
    identically). Output: per-vector code fingerprint + exact-decimal
    reconstruction error. Scale: the codebook is O(subs × labels × dims)
    and broadcasts; distances are one (vec, sub, label)-grouped
    partial-aggregated sum — the corpus shuffles once on (vec_id, sub),
    never pairwise."""
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "xf")
    ).select(
        "vec_id",
        "label",
        "dim",
        F.col("xf").cast("double").alias("x"),
        (F.col("dim") / PQ_SUB_DIM).cast("int").alias("sub"),
    )
    codebook = (
        dims.groupBy("sub", F.col("label").alias("cl"), "dim")
        .agg(davg("x").alias("c"))
    )
    diff = F.col("x") - F.col("c")
    dists = (
        dims.join(F.broadcast(codebook), ["sub", "dim"])
        .groupBy("vec_id", "sub", "cl")
        .agg(
            F.round(
                F.sum((diff * diff).cast("decimal(38,6)")).cast("double"), 6
            ).alias("d6")
        )
    )
    codes = dists.groupBy("vec_id", "sub").agg(
        F.min_by(F.struct("cl", "d6"), F.struct("d6", "cl")).alias("best")
    )
    return (
        codes.groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_subs"),
            F.md5(
                F.encode(
                    F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("sub", F.col("best.cl")))
                            ),
                            lambda s: s["cl"].cast("string"),
                        ),
                        ",",
                    ),
                    "utf-8",
                )
            ).alias("pq_md5"),
            F.sum(F.col("best.d6").cast("decimal(38,6)")).cast("double").alias("recon_err"),
        )
        .orderBy("vec_id")
    )


_PQ_ANN_ORACLE = f"""
    WITH dims AS (
      SELECT vec_id, label, i - 1 AS dim,
             CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x,
             (i - 1) // {PQ_SUB_DIM} AS sub
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ), codebook AS (
      SELECT sub, label AS cl, dim,
             CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) / COUNT(x) AS c
      FROM dims GROUP BY sub, label, dim
    ), dists AS (
      SELECT d.vec_id, d.sub, cb.cl,
             ROUND(CAST(SUM(CAST((d.x - cb.c) * (d.x - cb.c) AS DECIMAL(38,6)))
                        AS DOUBLE), 6) AS d6
      FROM dims d JOIN codebook cb ON cb.sub = d.sub AND cb.dim = d.dim
      GROUP BY d.vec_id, d.sub, cb.cl
    ), codes AS (
      SELECT vec_id, sub, cl FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                     ORDER BY d6, cl) AS rn
        FROM dists
      ) WHERE rn = 1
    ), lut AS (
      SELECT vec_id AS query_id, sub, cl, d6 FROM dists
      WHERE vec_id < {N_QUERY_VECS}
    ), adc AS (
      SELECT l.query_id, c.vec_id,
             CAST(SUM(CAST(l.d6 AS DECIMAL(38,6))) AS DOUBLE) AS adc_dist
      FROM codes c JOIN lut l ON l.sub = c.sub AND l.cl = c.cl
                             AND c.vec_id <> l.query_id
      GROUP BY l.query_id, c.vec_id
      HAVING COUNT(*) = {PQ_SUBS}
    )
    SELECT query_id, vec_id, adc_dist FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, vec_id) AS rn
      FROM adc
    ) WHERE rn <= {TOP_K}
    ORDER BY query_id, adc_dist, vec_id
"""


def _pq_wide(spark: SparkSession, sf_dir: str):
    """Shared PQ distance front end: the wide per-(vec, sub) pivot of
    limb-split d6 micros over the in-plan codebook, plus the
    (d6, ci)-struct array expression downstream consumers min/explode.
    Returns ``(wide, d6s)``. See ``pq_ann``'s docstring for the full
    shape discussion; split out so ``pq_distortion`` audits the same
    table the index is built from."""
    dims = _pq_dims(spark, sf_dir)
    ncl = N_PQ_CLUSTERS  # codebook size k — an index design constant
    cb_by_dim = F.broadcast(
        dims.groupBy(F.col("label").alias("cl"), "dim")
        .agg(davg("x").alias("c"))
        .groupBy("dim")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("cl", "c"))), lambda s: s["c"]
            ).alias("carr")
        )
    )
    d = dims.join(cb_by_dim, "dim")
    limb = 21  # dsum's radix: per-limb long sums never wrap
    micros = []
    for i in range(ncl):
        diff = F.col("x") - F.element_at(F.col("carr"), i + 1)
        # round-half-up at 6 digits on a non-negative value (the
        # DECIMAL(38,6) cast the oracle applies), then limb-split so the
        # per-group sum is overflow-safe at any corpus magnitude (a
        # single long sum has ~1.1% headroom at the documented bound).
        # Boundary caveat (ADVICE r12): floor(v*1e6 + 0.5) double-rounds
        # — if v*1e6 lands within 1 ulp BELOW a .5 micro boundary the
        # +0.5 can push it over, where the oracle's direct
        # double→DECIMAL cast would round down; divergence needs v*1e6
        # within 1 ulp of an exact x.5, measure-zero on real-valued
        # squared distances and never observed across 13 rounds of
        # regenerated fixtures, but the parity here is
        # almost-everywhere, not bit-identical-by-construction
        u = F.floor(diff * diff * 1e6 + 0.5).cast("long")
        hi = F.shiftright(u, 2 * limb)
        rem = u - hi * (1 << (2 * limb))
        micros += [
            F.sum(hi).alias(f"h{i}"),
            F.sum(F.shiftright(rem, limb)).alias(f"m{i}"),
            F.sum(rem.bitwiseAND(F.lit((1 << limb) - 1))).alias(f"l{i}"),
        ]
    wide = d.groupBy("vec_id", "sub").agg(*micros)

    def _u(i: int) -> Column:
        # exact micros total, reassembled decimal-side (one row per group)
        return (
            F.col(f"h{i}").cast("decimal(38,0)") * (1 << (2 * limb))
            + F.col(f"m{i}").cast("decimal(38,0)") * (1 << limb)
            + F.col(f"l{i}").cast("decimal(38,0)")
        )

    d6s = F.array(
        *[
            F.struct(
                F.round(_u(i).cast("double") / 1e6, 6).alias("d6"),
                F.lit(i).alias("ci"),
            )
            for i in range(ncl)
        ]
    )
    return wide, d6s


@query("pq_ann", oracle=_PQ_ANN_ORACLE, tags=("U5",), policy=sized)
def pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U5] Asymmetric-distance (ADC) search over the PQ codes — the
    end of the product-quantization path: each query precomputes a
    lookup table of (subspace × centroid) squared distances, and a
    corpus vector's approximate distance is the SUM of the LUT entries
    its 4-byte code selects — no corpus floats are ever touched at query
    time, which is the memory win that makes billion-vector search fit
    in RAM. The LUT entries are the SAME rounded-decimal d6 values the
    encoder computed, so the sum is exact-decimal and both engines rank
    identically (vec_id tie-break). Scale: codes table ≪ float corpus
    (16 bytes/vector here vs 256), LUT is (queries × 4 × labels) and
    broadcasts; one (query, vec) grouped sum, top-k per query.

    Plan shape (rewritten r12 under the honest per-pass protocol —
    A/B'd against checkpoint/persist/recompute sharing AND against
    driver-collected literal codebooks, a since-deleted tool, SCALE.md
    Round 12): the codebook trains IN-PLAN and is pivoted per-dim into a
    cl-sorted value array (``carr``) that broadcasts (bounded: EMBED_DIM
    rows × |labels| doubles), and the per-(vec, sub, cl) distance table
    pivots WIDE over cl — one groupBy(vec, sub) computing |labels| sums
    instead of a |labels|×-fanned join + (vec, sub, cl) aggregation
    (10× fewer aggregated rows, one shuffle instead of two). Each sum
    accumulates round-half-up micros split into three long LIMBS (the
    ``dsum`` radix trick, reassembled in DECIMAL(38,0) on the one
    output row per group): a plain single-long sum has only ~1.1%
    int64 headroom at the documented |x−c|² ≤ ~5.7e11 bound
    (16 addends × 5.7e17 micros ≈ 9.12e18 vs 2^63−1 ≈ 9.22e18), and
    the downstream adc stage's 4-subspace sum of those d6-micros
    (~3.6e19 at the bound) would wrap outright — so both stages carry
    limbs and neither correctness claim leans on fixture magnitudes
    (ADVICE r12). Reassembly yields the identical
    ``ROUND(CAST(SUM(DECIMAL(38,6)) AS DOUBLE), 6)`` value the oracle
    computes. Codes are the array_min INDEX into the cl-sorted array
    (index order == cl order, so the (d6, cl)-asc tie-break is
    preserved and the actual label value never needs to surface); the
    LUT is the same wide row exploded for the query vectors only — the
    vec_id predicate pushes through the aggregation to the scan, so its
    rebuild costs a few rows and the codebook broadcast is shared via
    exchange reuse (the recompute r10/r11 fought with ``materialize()``
    is structurally gone: no checkpoint, no replay hazard)."""
    wide, d6s = _pq_wide(spark, sf_dir)
    codes = wide.select("vec_id", "sub", F.array_min(d6s)["ci"].alias("ci"))
    lut = (
        wide.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(F.col("vec_id").alias("query_id"), "sub", F.explode(d6s).alias("e"))
        .select("query_id", "sub", F.col("e")["ci"].alias("ci"), F.col("e")["d6"].alias("d6"))
    )
    adc = (
        codes.join(
            F.broadcast(lut),
            ["sub", "ci"],
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            # d6 carries <= 6 fractional digits by construction, so its
            # micros are exact longs; dsum's limb accumulation matches
            # the oracle's CAST(SUM(DECIMAL(38,6)) AS DOUBLE) while
            # staying overflow-safe — a plain 4-addend long sum would
            # wrap at ~3.6e19 micros under the documented |x−c|² bound
            dsum(F.col("d6")).alias("adc_dist"),
            F.count(F.lit(1)).alias("n_subs"),
        )
        # a corpus code must be scored by ALL subspace LUT entries — a
        # partial sum (possible only if a LUT row were missing) is not a
        # distance
        .filter(F.col("n_subs") == PQ_SUBS)
        .drop("n_subs")
    )
    return top_k(adc, "adc_dist")


_PQ_DISTORTION_ORACLE = f"""
    WITH dims AS (
      SELECT vec_id, label, i - 1 AS dim,
             CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x,
             (i - 1) // {PQ_SUB_DIM} AS sub
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ), codebook AS (
      SELECT sub, label AS cl, dim,
             CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) / COUNT(x) AS c
      FROM dims GROUP BY sub, label, dim
    ), dists AS (
      SELECT d.vec_id, d.sub, cb.cl,
             ROUND(CAST(SUM(CAST((d.x - cb.c) * (d.x - cb.c) AS DECIMAL(38,6)))
                        AS DOUBLE), 6) AS d6
      FROM dims d JOIN codebook cb ON cb.sub = d.sub AND cb.dim = d.dim
      GROUP BY d.vec_id, d.sub, cb.cl
    ), assigned AS (
      SELECT vec_id, sub, d6 FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                     ORDER BY d6, cl) AS rn
        FROM dists
      ) WHERE rn = 1
    )
    SELECT CAST(sub AS BIGINT) AS sub,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(d6 AS DECIMAL(30,6))) AS DOUBLE) / COUNT(d6)
             AS mean_sq_err,
           MAX(d6) AS max_sq_err
    FROM assigned GROUP BY sub ORDER BY sub
"""


@query("pq_distortion", oracle=_PQ_DISTORTION_ORACLE, tags=("U5",))
def pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U5] PQ codebook distortion per subspace — the quantization-error
    acceptance metric next to recall (``sq8_recall``, ``ann_recall``)
    and ranking quality (``ann_ndcg``): mean and max squared
    reconstruction error between each vector's subspace slice and its
    ASSIGNED codebook centroid. This is the quantity k-means training
    minimizes and the first thing an index dashboard plots per rebuild
    (rising distortion = stale codebook / drifting embeddings). The
    assigned-code distance is exactly ``array_min`` over the same
    (d6, ci) struct array ``pq_ann`` elects codes from — one extra
    grouped aggregation over the shared wide pivot, no new shuffle
    shape; mean accumulates via ``davg``'s exact decimals (d6 carries
    ≤6 fractional digits, so the cast is lossless)."""
    wide, d6s = _pq_wide(spark, sf_dir)
    per = wide.select(
        F.col("sub").cast("bigint").alias("sub"),
        F.array_min(d6s)["d6"].alias("md"),
    )
    return (
        per.groupBy("sub")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            davg("md").alias("mean_sq_err"),
            F.max("md").alias("max_sq_err"),
        )
        .orderBy("sub")
    )


_PQ_REFINE_ORACLE = f"""
    WITH pq AS (
      {_PQ_ANN_ORACLE}
    ), vecs AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      WHERE list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                             list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0
    ), rescored AS (
      SELECT p.query_id, p.vec_id, p.adc_dist,
             ROUND(list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))),
                   6) AS cosine_sim
      FROM pq p
      JOIN vecs q ON q.vec_id = p.query_id
      JOIN vecs c ON c.vec_id = p.vec_id
    )
    SELECT query_id, vec_id, adc_dist, cosine_sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, vec_id) AS BIGINT)
             AS refined_rank
    FROM rescored
    ORDER BY query_id, refined_rank
"""


@query("pq_refine_rerank", oracle=_PQ_REFINE_ORACLE, tags=("U5",))
def pq_refine_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U5] PQ + exact refine — the standard two-stage production
    retrieval pattern (FAISS ``IndexRefine``): the compressed-code ADC
    search (``pq_ann``) nominates top-k candidates cheaply, then ONLY
    those k·queries rows are re-scored with exact cosine over the
    original float vectors and re-ranked. The output keeps both scores
    (`adc_dist`, `cosine_sim`) plus the refined rank, so rank movement —
    the quantization error the refine step exists to undo — is directly
    observable.

    Scale: this is why PQ fits billion-vector search — the full-float
    corpus is touched for only k rows per query. The candidate table
    (queries × k) BROADCASTS into the corpus join; the corpus is never
    shuffled. Zero-norm vectors can't be cosine-ranked and are dropped
    by the same ``nonzero`` predicate every similarity oracle applies
    (a zero query or candidate produces no refined rows)."""
    cand = pq_ann(spark, sf_dir).select("query_id", "vec_id", "adc_dist")
    e = nonzero(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").alias("v")
        )
    )
    qv = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # candidates (queries × k rows) pick up their query vector, then the
    # tiny enriched table broadcasts into the one corpus probe
    enriched = cand.join(F.broadcast(qv), "query_id")
    rescored = e.join(F.broadcast(enriched), "vec_id").select(
        "query_id",
        "vec_id",
        "adc_dist",
        F.round(
            dot("qv", "v") / (F.sqrt(dot("qv", "qv")) * F.sqrt(dot("v", "v"))), 6
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "vec_id")
    return rescored.select(
        "query_id",
        "vec_id",
        "adc_dist",
        "cosine_sim",
        F.row_number().over(w).cast("bigint").alias("refined_rank"),
    ).orderBy("query_id", "refined_rank")


#: hash-bucket split for the incremental-assignment query: buckets below
#: the threshold are the "already indexed" base (~80%), the rest are the
#: nightly delta (~20%). Content-hash split = SF-independent, rerun-stable.
_DELTA_BUCKET = "cc"

_IVF_DELTA_ORACLE = f"""
    WITH vecs AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      WHERE list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                             list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0
    ), base AS (
      SELECT * FROM vecs
      WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '{_DELTA_BUCKET}'
    ), delta AS (
      SELECT * FROM vecs
      WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) >= '{_DELTA_BUCKET}'
    ), cd AS (
      SELECT label AS cid, i,
             CAST(SUM(CAST(v[i] AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS m
      FROM base, (SELECT unnest(range(1, {EMBED_DIM + 1})) AS i) dims
      GROUP BY label, i
    ), cents AS (
      SELECT cid, list(m ORDER BY i) AS cv FROM cd GROUP BY cid
    ), c2 AS (
      SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnorm FROM cents
    ), assigned AS (
      SELECT vec_id, cell, s9 FROM (
        SELECT d.vec_id, c.cid AS cell,
               ROUND(list_dot_product(d.v, c.cv)
                     / (sqrt(list_dot_product(d.v, d.v)) * c.cnorm), 9) AS s9,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id
                 ORDER BY ROUND(list_dot_product(d.v, c.cv)
                         / (sqrt(list_dot_product(d.v, d.v)) * c.cnorm), 9) DESC,
                          c.cid) AS rn
        FROM delta d CROSS JOIN c2 c
      ) WHERE rn = 1
    )
    SELECT vec_id, cell, ROUND(s9, 6) AS centroid_sim
    FROM assigned ORDER BY vec_id
"""


@query("ivf_delta_assign", oracle=_IVF_DELTA_ORACLE, tags=("U5",))
def ivf_delta_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U5] Incremental IVF index maintenance — assign a nightly DELTA of
    new embeddings to the EXISTING centroids without retraining, the
    index sibling of ``minhash_incremental``/``incremental_clusters``:
    at 100 TB the coarse quantizer is retrained rarely (centroid drift
    is slow) while ingest appends vectors continuously, so the nightly
    job must cost ∝ delta, not ∝ corpus. Base/delta split is a content-
    hash bucket (~80/20, rerun-stable, SF-independent); centroids train
    on the base only (same decimal-deterministic ``decimal_centroids``
    as ``ivf_ann``) and collapse to the 1-row broadcast model
    (``_centroid_model``), so the delta assignment is a PURE PROJECTION
    (``_elect_structs`` argmax): the delta never shuffles, never fans
    |centroids|×, and the base corpus is read only by the centroid
    aggregation. Assignment ranking uses round-9 similarity with cid
    tie-break, like every IVF-family election."""
    e = nonzero(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", F.col("embedding").alias("v")
        )
    )
    bucket = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 2)
    base = e.filter(bucket < _DELTA_BUCKET)
    delta = e.filter(bucket >= _DELTA_BUCKET).withColumn(
        "norm", F.sqrt(dot("v", "v"))
    )
    model = _centroid_model(decimal_centroids(base, "label"))
    best = F.array_max(_elect_structs("v", "norm"))
    return (
        delta.join(model)
        .select(
            "vec_id",
            best["cid"].alias("cell"),
            F.round(best["s"], 6).alias("centroid_sim"),
        )
        .orderBy("vec_id")
    )


def _recall_oracle_tail(group: str, spine: str, group_out: str) -> str:
    """Oracle SQL of ``recall_at_k`` after the ``gt`` and (``group``,
    query_id, vec_id) ``approx`` CTEs: the (``spine`` × truth query)
    rows, each with its hit count over ``TOP_K``."""
    return f"""    ), qm AS (
      SELECT DISTINCT m.{group}, g.query_id
      FROM gt g CROSS JOIN ({spine}) m
    ), matched AS (
      SELECT a.{group}, a.query_id, COUNT(*) AS c
      FROM approx a JOIN gt g
        ON g.query_id = a.query_id AND g.vec_id = a.vec_id
      GROUP BY a.{group}, a.query_id
    )
    SELECT {group_out}, qm.query_id,
           CAST(COALESCE(matched.c, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(matched.c, 0) AS DOUBLE) / {TOP_K} AS recall_at_k
    FROM qm LEFT JOIN matched
      ON matched.{group} = qm.{group} AND matched.query_id = qm.query_id
    ORDER BY qm.{group}, qm.query_id
"""


_ANN_RECALL_ORACLE = f"""
    WITH gt AS (
      {_ORACLE_COSINE.format(nq=N_QUERY_VECS, k=TOP_K)}
    ), ivf AS (
      {_ivf_oracle()}
    ), pq AS (
      {_PQ_ANN_ORACLE}
    ), approx AS (
      SELECT 'ivf' AS method, query_id, vec_id FROM ivf
      UNION ALL
      SELECT 'pq' AS method, query_id, vec_id FROM pq
{_recall_oracle_tail(
    "method", "SELECT 'ivf' AS method UNION ALL SELECT 'pq'", "qm.method"
)}"""


# prepared=False: composes knn_bruteforce, whose CONSTRUCTION collects
# the query vectors into the kernel closure — plan caching would freeze
# them (stale if lake data changes within a session)
@query("ann_recall", oracle=_ANN_RECALL_ORACLE, tags=("U5",), prepared=False)
def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U5] recall@k — the standard vector-store acceptance metric: for
    each query vector, what fraction of the exact ``knn_bruteforce``
    top-k does each approximate index (``ivf_ann``, ``pq_ann``) return?
    Composes the three catalog queries verbatim (same builders, same
    determinism contracts), so the metric itself is exact and
    hash-comparable: every input ranking is rounded-score + id tie-broken.
    ``recall_at_k`` scores both over a (method × query) spine: the 5
    distinct query ids crossed with a 2-row method literal — a broadcast
    literal-carry, not a cartesian. Scale: the expensive inputs are the
    index scans themselves; the recall join touches only 3·k·n_queries
    id pairs — evaluation cost is index cost, the shape a recall
    dashboard at 100 TB needs (ground truth restricted to a sampled
    query set, as here)."""
    approx = (
        ivf_ann(spark, sf_dir)
        .select(F.lit("ivf").alias("method"), "query_id", "vec_id")
        .unionByName(
            pq_ann(spark, sf_dir).select(
                F.lit("pq").alias("method"), "query_id", "vec_id"
            )
        )
    )
    methods = spark.createDataFrame([("ivf",), ("pq",)], "method string")
    return recall_at_k(approx, knn_bruteforce(spark, sf_dir), methods).orderBy(
        "method", "query_id"
    )


#: Position discounts 1/log2(i+1) for nDCG@k, computed ONCE in Python
#: and embedded as the SAME double literals in the Spark plan
#: (``F.lit``) and the oracle SQL (``repr`` round-trips exactly) — the
#: `_MACD_W_*` discipline: no cross-engine libm log2 in either plan, so
#: every term is a bit-identical double product.
_NDCG_DISC = [1.0 / math.log2(i + 1) for i in range(1, TOP_K + 1)]
_NDCG_DISC_SQL = "[" + ", ".join(repr(d) for d in _NDCG_DISC) + "]"

_ANN_NDCG_ORACLE = f"""
    WITH gt0 AS (
      {_ORACLE_COSINE.format(nq=N_QUERY_VECS, k=TOP_K)}
    ), grel AS (
      SELECT query_id, vec_id, g_rank,
             CAST({TOP_K} + 1 - g_rank AS DOUBLE) AS rel
      FROM (SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine_sim DESC, vec_id) AS g_rank
            FROM gt0)
    ), idcg AS (
      SELECT query_id,
             CAST(SUM(CAST(rel * ({_NDCG_DISC_SQL})[CAST(g_rank AS INT)]
                           AS DECIMAL(38,12))) AS DOUBLE) AS idcg
      FROM grel GROUP BY query_id
    ), ivf AS (
      {_ivf_oracle()}
    ), pq AS (
      {_PQ_ANN_ORACLE}
    ), approx AS (
      SELECT 'ivf' AS method, query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, vec_id) AS a_rank
      FROM ivf
      UNION ALL
      SELECT 'pq' AS method, query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, vec_id) AS a_rank
      FROM pq
    ), dcg AS (
      SELECT a.method, a.query_id,
             CAST(SUM(CAST(g.rel * ({_NDCG_DISC_SQL})[CAST(a.a_rank AS INT)]
                           AS DECIMAL(38,12))) AS DOUBLE) AS dcg
      FROM approx a JOIN grel g USING (query_id, vec_id)
      GROUP BY a.method, a.query_id
    ), qm AS (
      SELECT m.method, i.query_id
      FROM (SELECT DISTINCT query_id FROM grel) i
      CROSS JOIN (SELECT 'ivf' AS method UNION ALL SELECT 'pq') m
    )
    SELECT qm.method, qm.query_id,
           COALESCE(dcg.dcg, 0.0) AS dcg_at_k,
           COALESCE(dcg.dcg, 0.0) / idcg.idcg AS ndcg_at_k
    FROM qm
    LEFT JOIN dcg ON dcg.method = qm.method AND dcg.query_id = qm.query_id
    JOIN idcg ON idcg.query_id = qm.query_id
    ORDER BY qm.method, qm.query_id
"""


# prepared=False: composes knn_bruteforce (see ann_recall)
@query("ann_ndcg", oracle=_ANN_NDCG_ORACLE, tags=("U5",), prepared=False)
def ann_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U5] nDCG@k — the rank-aware companion to ``ann_recall``: recall
    only counts set overlap with the exact top-k, while nDCG scores
    WHERE each relevant hit lands in the approximate ranking (a result
    demoted from exact-rank 1 to approx-rank 10 keeps recall flat but
    costs nDCG). Relevance is graded from the exact ranking (rel =
    k+1−rank, the standard integer-graded scheme when no human labels
    exist), DCG discounts by the approximate position, and IDCG
    normalizes per query. Determinism: the discounts are Python-computed
    double literals embedded identically in both engines (no libm log2
    in either plan), rel·disc products are bit-identical doubles, and
    per-(method, query) sums accumulate in DECIMAL(38,12) — order-
    independent under partial aggregation — so dcg/ndcg are exact with
    NO rounding anywhere. Scale: evaluation cost is the index scans;
    the metric itself joins 2·k·n_queries id pairs against k·n_queries
    ground-truth rows, all broadcast-sized."""
    gt0 = knn_bruteforce(spark, sf_dir)
    disc = F.lit(_NDCG_DISC)
    wg = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "vec_id")
    grel = gt0.select(
        "query_id", "vec_id", F.row_number().over(wg).alias("g_rank")
    ).withColumn("rel", (F.lit(TOP_K + 1) - F.col("g_rank")).cast("double"))

    def _dsum12(term):
        return F.sum(term.cast("decimal(38,12)")).cast("double")

    idcg = grel.groupBy("query_id").agg(
        _dsum12(F.col("rel") * F.element_at(disc, F.col("g_rank"))).alias("idcg")
    )
    wa_ivf = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), "vec_id")
    wa_pq = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    approx = (
        ivf_ann(spark, sf_dir)
        .select(
            F.lit("ivf").alias("method"),
            "query_id",
            "vec_id",
            F.row_number().over(wa_ivf).alias("a_rank"),
        )
        .unionByName(
            pq_ann(spark, sf_dir).select(
                F.lit("pq").alias("method"),
                "query_id",
                "vec_id",
                F.row_number().over(wa_pq).alias("a_rank"),
            )
        )
    )
    dcg = (
        approx.join(F.broadcast(grel.select("query_id", "vec_id", "rel")),
                    ["query_id", "vec_id"])
        .groupBy("method", "query_id")
        .agg(_dsum12(F.col("rel") * F.element_at(disc, F.col("a_rank"))).alias("dcg"))
    )
    methods = spark.createDataFrame([("ivf",), ("pq",)], "method string")
    qm = grel.select("query_id").distinct().crossJoin(F.broadcast(methods))
    return (
        qm.join(F.broadcast(dcg), ["method", "query_id"], "left")
        .join(F.broadcast(idcg), "query_id")
        .select(
            "method",
            "query_id",
            F.coalesce(F.col("dcg"), F.lit(0.0)).alias("dcg_at_k"),
            (F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg")).alias("ndcg_at_k"),
        )
        .orderBy("method", "query_id")
    )


_SQ8_RECALL_ORACLE = f"""
    WITH dims AS (
      SELECT vec_id, i - 1 AS dim, CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ), codebook AS (
      SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM dims GROUP BY dim
    ), norms AS (
      SELECT vec_id,
             CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS nsq
      FROM dims GROUP BY vec_id
    ), deq AS (
      SELECT d.vec_id, d.dim,
             CASE WHEN c.hi = c.lo THEN c.lo
                  ELSE c.lo + (CAST(least({QUANT_LEVELS}, greatest(0,
                       floor((d.x - c.lo) * {QUANT_LEVELS} / (c.hi - c.lo))))
                       AS DOUBLE) + 0.5) * (c.hi - c.lo) / 256
             END AS xq
      FROM dims d JOIN codebook c USING (dim)
    ), dnorms AS (
      SELECT vec_id,
             CAST(SUM(CAST(xq * xq AS DECIMAL(38,6))) AS DOUBLE) AS qsq
      FROM deq GROUP BY vec_id
    ), qv AS (
      SELECT vec_id AS query_id, dim, x AS qx FROM dims
      WHERE vec_id < {N_QUERY_VECS}
    ), dots AS (
      SELECT q.query_id, d.vec_id,
             CAST(SUM(CAST(q.qx * d.xq AS DECIMAL(38,6))) AS DOUBLE) AS dotv
      FROM qv q JOIN deq d ON d.dim = q.dim AND d.vec_id <> q.query_id
      GROUP BY q.query_id, d.vec_id
    ), scored AS (
      SELECT t.query_id, t.vec_id,
             ROUND(t.dotv / (sqrt(qn.nsq) * sqrt(cq.qsq)), 6) AS qcos
      FROM dots t
      JOIN norms qn ON qn.vec_id = t.query_id
      JOIN dnorms cq ON cq.vec_id = t.vec_id
      JOIN norms cn ON cn.vec_id = t.vec_id
      WHERE qn.nsq > 0 AND cq.qsq > 0 AND cn.nsq > 0
    ), topk AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY qcos DESC, vec_id) AS rn
        FROM scored
      ) WHERE rn <= {TOP_K}
    ), gt AS (
      {_ORACLE_COSINE.format(nq=N_QUERY_VECS, k=TOP_K)}
    ), matched AS (
      SELECT t.query_id, COUNT(*) AS c
      FROM topk t JOIN gt g ON g.query_id = t.query_id AND g.vec_id = t.vec_id
      GROUP BY t.query_id
    )
    SELECT qs.query_id,
           CAST(COALESCE(m.c, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(m.c, 0) AS DOUBLE) / {TOP_K} AS recall_at_k
    FROM (SELECT DISTINCT query_id FROM gt) qs
    LEFT JOIN matched m ON m.query_id = qs.query_id
    ORDER BY qs.query_id
"""


@query("sq8_recall", oracle=_SQ8_RECALL_ORACLE, tags=("U5",))
def sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U5] Acceptance metric for ``embedding_quantize``: recall@k of an
    asymmetric int8 search (full-precision query vectors scored against
    the DEQUANTIZED corpus — the SQ analogue of ``pq_ann``'s ADC) versus
    the exact ``knn_bruteforce`` ground truth. This is the number that
    tells a vector-store operator what the 4× compression rung actually
    costs in retrieval quality — completing the audit layer that
    ``ann_recall`` provides for IVF/PQ. The dequantizer
    ``lo + (code + 0.5)·(hi − lo)/256`` is the bin-midpoint
    reconstruction of the exact ``embedding_quantize`` codes (same
    codebook recipe, same clamped-floor code expression, so the two
    queries audit the same artifact). Dot products and norms accumulate
    per-term DECIMAL(38,6) (exact, order-free — the ``pq_encode``
    pattern), the cosine rounds at 6 digits with vec_id tie-break, so
    both engines rank identically. Scale: codebook and query dims are
    O(dims)/O(k·dims) broadcasts; the corpus explodes narrow and
    aggregates once on (query_id, vec_id) with map-side partials — the
    corpus is never pairwise-joined with itself, and at 100 TB the
    ground truth restricts to this same sampled query set."""
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "xf")
    ).select("vec_id", "dim", F.col("xf").cast("double").alias("x"))
    codebook = dims.groupBy("dim").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    norms = dims.groupBy("vec_id").agg(
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,6)"))
        .cast("double")
        .alias("nsq")
    )
    code = F.least(
        F.lit(QUANT_LEVELS),
        F.greatest(
            F.lit(0),
            F.floor(
                (F.col("x") - F.col("lo"))
                * QUANT_LEVELS
                / (F.col("hi") - F.col("lo"))
            ),
        ),
    ).cast("double")
    deq = dims.join(F.broadcast(codebook), "dim").select(
        "vec_id",
        "dim",
        F.when(F.col("hi") == F.col("lo"), F.col("lo"))
        .otherwise(
            F.col("lo") + (code + 0.5) * (F.col("hi") - F.col("lo")) / 256
        )
        .alias("xq"),
    )
    dnorms = deq.groupBy("vec_id").agg(
        F.sum((F.col("xq") * F.col("xq")).cast("decimal(38,6)"))
        .cast("double")
        .alias("qsq")
    )
    qv = dims.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), "dim", F.col("x").alias("qx")
    )
    dots = (
        deq.join(F.broadcast(qv), "dim")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.sum((F.col("qx") * F.col("xq")).cast("decimal(38,6)"))
            .cast("double")
            .alias("dotv")
        )
    )
    scored = (
        dots.join(
            F.broadcast(
                norms.select(
                    F.col("vec_id").alias("query_id"), F.col("nsq").alias("q_nsq")
                )
            ),
            "query_id",
        )
        .join(dnorms.select("vec_id", F.col("qsq").alias("c_qsq")), "vec_id")
        .join(norms.select("vec_id", F.col("nsq").alias("c_nsq")), "vec_id")
        .filter(
            (F.col("q_nsq") > 0) & (F.col("c_qsq") > 0) & (F.col("c_nsq") > 0)
        )
        .select(
            "query_id",
            "vec_id",
            F.round(
                F.col("dotv") / (F.sqrt("q_nsq") * F.sqrt("c_qsq")), 6
            ).alias("qcos"),
        )
    )
    return recall_at_k(
        top_k(scored, F.desc("qcos")), knn_bruteforce(spark, sf_dir)
    ).orderBy("query_id")


_PROBE_SWEEP = (1, 2, 3)

_IVF_PROBE_SWEEP_ORACLE = (
    "    WITH gt AS (\n      "
    + _ORACLE_COSINE.format(nq=N_QUERY_VECS, k=TOP_K)
    + "\n    ), "
    + ", ".join(
        f"ivf_p{p} AS (\n      {_ivf_oracle(p)}\n    )" for p in _PROBE_SWEEP
    )
    + ", approx AS (\n"
    + "      UNION ALL\n".join(
        f"      SELECT {p} AS n_probe, query_id, vec_id FROM ivf_p{p}\n"
        for p in _PROBE_SWEEP
    )
    + _recall_oracle_tail(
        "n_probe",
        f"SELECT unnest(ARRAY{list(_PROBE_SWEEP)}) AS n_probe",
        "CAST(qm.n_probe AS INT) AS n_probe",
    )
)


# prepared=False: composes knn_bruteforce ground truth (construction
# collects the query vectors into the kernel closure — see ann_recall)
@query("ivf_probe_sweep", oracle=_IVF_PROBE_SWEEP_ORACLE, tags=("U5",),
       prepared=False)
def ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U5] The recall/latency tuning curve every IVF deployment is
    sized by: recall@k vs number of probed cells (n_probe = 1, 2, 3)
    against the exact ``knn_bruteforce`` ground truth. Reuses the ONE
    parametrized builder (``_ivf_topk``) and oracle template
    (``_ivf_oracle``) the production ``ivf_ann`` query uses, so the
    sweep measures the real operator, not a copy. Monotonicity (recall
    non-decreasing in n_probe) is additionally asserted in unit tests.
    Scale: centroid training and cell assignment are probe-independent,
    so the sweep builds the index ONCE (``_ivf_index``) and varies only
    the probe set — the "cache the assigned table, vary n_probe" shape
    an IVF tuning dashboard runs at 100 TB. The three probe settings
    share ONE probe join (VERDICT r11 ask #6): each probe cell carries
    its per-query rank, a candidate found via the rank-``r`` cell belongs
    to every sweep setting with ``n_probe >= r``, so one broadcast build,
    one scan of the assigned corpus, and one (n_probe, query) top-k
    window replace the former three probe plans + union (which scanned
    the assigned table three times and built three broadcasts — r11 also
    eagerly materialized it to blunt exactly that recompute; with one
    consumer the materialize is gone too)."""
    model, assigned, q = _ivf_index(spark, sf_dir)
    max_p = max(_PROBE_SWEEP)
    probe_list = F.broadcast(
        q.join(model).select(
            "query_id",
            "qv",
            "qnorm",
            F.posexplode(_probe_cells(max_p)).alias("pr0", "pc"),
        ).select(
            "query_id",
            "qv",
            "qnorm",
            (F.col("pr0") + 1).cast("int").alias("probe_rank"),
            F.col("pc")["cid"].alias("cell"),
        )
    )
    scored = (
        probe_list.join(assigned, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "probe_rank",
            F.round(dot("qv", "v") / (F.col("qnorm") * F.col("norm")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    probes = spark.createDataFrame([(p,) for p in _PROBE_SWEEP], "n_probe int")
    fanned = scored.join(F.broadcast(probes), F.col("n_probe") >= F.col("probe_rank"))
    approx = top_k(fanned, F.desc("cosine_sim"), by=("n_probe", "query_id"))
    return recall_at_k(approx, knn_bruteforce(spark, sf_dir), probes).orderBy(
        "n_probe", "query_id"
    )


@query(
    "nearest_centroid_eval",
    oracle="""
    WITH dims AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), cents AS (
      SELECT label AS c_label, d,
             CAST(SUM(CAST(x AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*) AS c
      FROM dims GROUP BY c_label, d
    ), dists AS (
      SELECT v.vec_id, v.label, ct.c_label,
             SUM(CAST((v.x - ct.c) * (v.x - ct.c) AS DECIMAL(20,10))) AS dist
      FROM dims v JOIN cents ct ON ct.d = v.d
      GROUP BY v.vec_id, v.label, ct.c_label
    ), assigned AS (
      SELECT vec_id, label, c_label,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dist, c_label) AS rn
      FROM dists
    )
    SELECT label, CAST(c_label AS INT) AS predicted_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM assigned WHERE rn = 1
    GROUP BY label, predicted_label
    ORDER BY label, predicted_label
    """,
    tags=("U5", "A7"),
)
def nearest_centroid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U5/A7] Nearest-centroid classification confusion matrix — the
    embedding-quality acceptance check that needs no model: compute each
    label's centroid, assign every vector to its nearest centroid
    (squared L2), and report the (true, predicted) count matrix. A
    diagonal-heavy matrix certifies the embedding space separates the
    labels; confusion cells show WHICH classes collide — the triage
    view ``ann_recall`` (retrieval quality) doesn't give.

    Exactness chain on float inputs: each float casts to double
    (exact), per-dimension centroid sums accumulate in DECIMAL(20,10)
    (order-free), the centroid is one double division, each squared
    diff is an identical IEEE double, and the DISTANCE compare runs on
    the exact DECIMAL sum of per-term-rounded diffs — argmin ties
    break by label, so assignment is engine-identical even between
    equidistant centroids. The 10-digit scale keeps the rounding grain
    ~1e5 below any non-tied distance gap.

    At 100 TB: centroids are a |labels|×|dims| aggregate (KB) broadcast
    back; the distance pass is one narrow join on dimension index —
    embarrassingly parallel, no vector ever leaves its partition. The
    posexplode grain (rows × dims) is the honest cost; the production
    kernel for much wider vectors is the ``knn_bruteforce`` mapInPandas
    numpy path, and this SQL-expressible formulation is what makes the
    metric oracle-checkable."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("d0", "xf"),
    ).select(
        "vec_id",
        "label",
        (F.col("d0") + 1).alias("d"),
        F.col("xf").cast("double").alias("x"),
    )
    cents = dims.groupBy(F.col("label").alias("c_label"), "d").agg(
        (
            F.sum(F.col("x").cast("decimal(20,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    diff = F.col("x") - F.col("c")
    dists = (
        dims.join(cents, "d")
        .groupBy("vec_id", "label", "c_label")
        .agg(F.sum((diff * diff).cast("decimal(20,10)")).alias("dist"))
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "c_label")
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("label", F.col("c_label").cast("int").alias("predicted_label"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("label", "predicted_label")
    )


MATRYOSHKA_DIMS = 16  # truncation budget: the first quarter of the 64 dims


@query(
    "matryoshka_recall",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             list_transform(embedding, x -> CAST(x AS DOUBLE))[1:{MATRYOSHKA_DIMS}] AS tv
      FROM embeddings
    ), ok AS (
      SELECT vec_id, v, tv FROM vecs
      WHERE list_dot_product(v, v) > 0 AND list_dot_product(tv, tv) > 0
    ), q AS (
      SELECT vec_id AS query_id, v AS qv, tv AS qtv FROM ok
      WHERE vec_id < {N_QUERY_VECS}
    ), scored AS (
      SELECT q.query_id, ok.vec_id,
             ROUND(list_dot_product(q.qv, ok.v)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(ok.v, ok.v))), 6) AS full_sim,
             ROUND(list_dot_product(q.qtv, ok.tv)
                   / (sqrt(list_dot_product(q.qtv, q.qtv))
                      * sqrt(list_dot_product(ok.tv, ok.tv))), 6) AS trunc_sim
      FROM q JOIN ok ON ok.vec_id <> q.query_id
    ), ranked AS (
      SELECT query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY full_sim DESC, vec_id) AS rn_full,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY trunc_sim DESC, vec_id) AS rn_trunc
      FROM scored
    )
    SELECT query_id,
           CAST(SUM(CASE WHEN rn_full <= {TOP_K} AND rn_trunc <= {TOP_K}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN rn_full <= {TOP_K} AND rn_trunc <= {TOP_K}
                         THEN 1 ELSE 0 END) AS DOUBLE) / {TOP_K} AS recall_at_k
    FROM ranked GROUP BY query_id ORDER BY query_id
    """,
    tags=("U5",),
)
def matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U5] Matryoshka / truncated-dimension acceptance metric: recall@k
    of cosine top-k computed on only the FIRST {MATRYOSHKA_DIMS} of the
    64 embedding dims against the full-dimension exact ranking — the
    number a vector-store operator reads before shipping
    Matryoshka-style dimension truncation (Kusupati et al. 2022) as a
    cheap first-stage retriever (4× less memory and FLOPs per
    comparison). Completes the acceptance layer: ``ann_recall`` audits
    IVF/PQ, ``sq8_recall`` audits scalar quantization, this audits
    dimension truncation.

    Determinism (the family contract): both rankings use the identical
    left-to-right HOF dot folds as DuckDB's ``list_dot_product``, ROUND
    at 6 digits, vec_id tie-break; candidates require BOTH the full and
    truncated norms positive (one engine-identical predicate) so neither
    ranking ever scores a NaN. The 5-row query side is a broadcast
    literal-carry (the ``ann_recall`` spine), not a cartesian: cost is
    linear in the corpus.

    Scale: identical envelope to ``knn_bruteforce`` — one corpus pass
    scoring 5 queries, two window ranks over ≤ corpus rows per query,
    output is one row per query."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    e = e.withColumn("tv", F.slice("v", 1, MATRYOSHKA_DIMS))
    ok = e.filter((dot("v", "v") > 0) & (dot("tv", "tv") > 0))
    q = (
        ok.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("tv").alias("qtv"),
        )
    )
    scored = (
        ok.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot("qv", "v") / (F.sqrt(dot("qv", "qv")) * F.sqrt(dot("v", "v"))),
                6,
            ).alias("full_sim"),
            F.round(
                dot("qtv", "tv")
                / (F.sqrt(dot("qtv", "qtv")) * F.sqrt(dot("tv", "tv"))),
                6,
            ).alias("trunc_sim"),
        )
    )
    w_full = Window.partitionBy("query_id").orderBy(
        F.desc("full_sim"), F.col("vec_id")
    )
    w_trunc = Window.partitionBy("query_id").orderBy(
        F.desc("trunc_sim"), F.col("vec_id")
    )
    ranked = scored.select(
        "query_id",
        "vec_id",
        F.row_number().over(w_full).alias("rn_full"),
        F.row_number().over(w_trunc).alias("rn_trunc"),
    )
    hit = F.when(
        (F.col("rn_full") <= TOP_K) & (F.col("rn_trunc") <= TOP_K), 1
    ).otherwise(0)
    return (
        ranked.groupBy("query_id")
        .agg(
            F.sum(hit).cast("bigint").alias("n_hits"),
            (F.sum(hit).cast("double") / F.lit(float(TOP_K))).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
RRF_ARM_DEPTH = 50  # candidates retrieved per arm before fusion
RRF_TOP_K = 10  # fused results emitted per query

_HYBRID_RRF_ORACLE = f"""
    WITH vecs AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      WHERE list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                             list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0
    ), qv AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < {N_QUERY_VECS}),
    vec_scored AS (
      SELECT q.query_id, vecs.vec_id AS doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY ROUND(list_dot_product(q.qv, vecs.v)
                              / (sqrt(list_dot_product(q.qv, q.qv))
                                 * sqrt(list_dot_product(vecs.v, vecs.v))), 6) DESC,
                        vecs.vec_id) AS vec_rank
      FROM qv q JOIN vecs ON vecs.vec_id <> q.query_id
    ), vec_arm AS (
      SELECT query_id, doc_id, vec_rank FROM vec_scored WHERE vec_rank <= {RRF_ARM_DEPTH}
    ), terms AS (
      SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
      FROM documents
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms FROM terms GROUP BY doc_id
    ), qt AS (
      SELECT doc_id AS query_id, term FROM terms WHERE doc_id < {N_QUERY_VECS}
    ), inter AS (
      SELECT q.query_id, t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM qt q JOIN terms t ON t.term = q.term AND t.doc_id <> q.query_id
      GROUP BY q.query_id, t.doc_id
    ), lex_scored AS (
      SELECT i.query_id, i.doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY i.query_id
               ORDER BY ROUND(CAST(i.n_inter AS DOUBLE)
                              / (sq.n_terms + sd.n_terms - i.n_inter), 6) DESC,
                        i.doc_id) AS lex_rank
      FROM inter i
      JOIN sizes sq ON sq.doc_id = i.query_id
      JOIN sizes sd ON sd.doc_id = i.doc_id
    ), lex_arm AS (
      SELECT query_id, doc_id, lex_rank FROM lex_scored WHERE lex_rank <= {RRF_ARM_DEPTH}
    ), fused AS (
      SELECT COALESCE(l.query_id, v.query_id) AS query_id,
             COALESCE(l.doc_id, v.doc_id) AS doc_id,
             l.lex_rank, v.vec_rank,
             COALESCE(1.0 / ({RRF_K} + l.lex_rank), 0.0)
               + COALESCE(1.0 / ({RRF_K} + v.vec_rank), 0.0) AS rrf_score
      FROM lex_arm l FULL OUTER JOIN vec_arm v
        ON l.query_id = v.query_id AND l.doc_id = v.doc_id
    )
    SELECT query_id, doc_id,
           CAST(lex_rank AS INT) AS lex_rank, CAST(vec_rank AS INT) AS vec_rank,
           rrf_score
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, doc_id) AS rn
      FROM fused
    ) WHERE rn <= {RRF_TOP_K}
    ORDER BY query_id, rrf_score DESC, doc_id
"""


@query("hybrid_rrf_fusion", oracle=_HYBRID_RRF_ORACLE, tags=("U5", "U6"))
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U5+U6] Hybrid retrieval with reciprocal-rank fusion — the
    two-tower RAG/search shape the catalog's arms implement separately:
    a LEXICAL arm (token-set Jaccard through the inverted-index join —
    the ``ngram_jaccard_pairs`` retrieval shape, scoped to the query
    set) and a VECTOR arm (exact cosine ranking, the ``knn_bruteforce``
    contract built lazily), fused per query by
    ``Σ 1/(60 + rank)`` over each arm's top-{RRF_ARM_DEPTH}
    (Cormack et al.'s RRF — rank-only fusion, immune to the two arms'
    incomparable score scales). Docs retrieved by one arm only keep
    that arm's term (the standard convention); emitted columns keep both
    ranks nullable so the fusion is auditable.

    The corpus ships documents and embeddings under a SHARED id space
    (doc_id ≡ vec_id), which is exactly how a production store keys its
    text and vector indexes; queries are the first {N_QUERY_VECS} ids —
    the same query set every U5 metric uses.

    Exactness: both arm ranks are ROW_NUMBERs over (rounded score,
    doc_id) total orders; the fused score is a sum of two rationals with
    small-integer denominators — identical doubles cross-engine, shipped
    UNROUNDED (the ``bollinger_bands`` identical-integer-operand
    argument; rounding at 6 digits would COLLIDE adjacent deep-rank RRF
    values, which differ by ~8e-5 at rank 50 but can tie after a sum).

    Scale: the vector arm is the broadcast-queries-never-shuffle-corpus
    shape (5 query rows broadcast into one corpus scan); the lexical arm
    is an inverted-index probe — query terms broadcast, the posting join
    touches only term-sharing pairs, never a cartesian; both arms' rank
    windows run over ≤ queries × corpus-candidates, and the fusion join
    + final top-k touch ≤ 2·{RRF_ARM_DEPTH} rows per query. Construction
    is pure-lazy (no collect — unlike ``knn_bruteforce``'s deliberate
    driver-side query shipping), so the plan is prepared-cache safe."""
    from .text import tokens

    e = nonzero(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").alias("v")
        )
    )
    q = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    vec_scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.round(
                dot("qv", "v") / (F.sqrt(dot("qv", "qv")) * F.sqrt(dot("v", "v"))), 6
            ).alias("cos"),
        )
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("cos"), "doc_id")
    vec_arm = (
        vec_scored.select("query_id", "doc_id", F.row_number().over(wv).alias("vec_rank"))
        .filter(F.col("vec_rank") <= RRF_ARM_DEPTH)
    )

    d = load_table(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(tokens()).alias("term")).distinct()
    sizes = terms.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_terms"))
    qt = terms.filter(F.col("doc_id") < N_QUERY_VECS).select(
        F.col("doc_id").alias("query_id"), "term"
    )
    inter = (
        terms.join(F.broadcast(qt), ["term"])
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    jac = F.round(
        F.col("n_inter").cast("double")
        / (F.col("nq") + F.col("nd") - F.col("n_inter")),
        6,
    )
    wl = Window.partitionBy("query_id").orderBy(F.desc("jac"), "doc_id")
    lex_arm = (
        inter.join(
            F.broadcast(sizes.select(F.col("doc_id").alias("query_id"), F.col("n_terms").alias("nq"))),
            "query_id",
        )
        .join(sizes.select("doc_id", F.col("n_terms").alias("nd")), "doc_id")
        .select("query_id", "doc_id", jac.alias("jac"))
        .select("query_id", "doc_id", F.row_number().over(wl).alias("lex_rank"))
        .filter(F.col("lex_rank") <= RRF_ARM_DEPTH)
    )

    fused = lex_arm.join(vec_arm, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        "lex_rank",
        "vec_rank",
        (
            F.coalesce(1.0 / (RRF_K + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (RRF_K + F.col("vec_rank")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    return (
        top_k(fused, F.desc("rrf_score"), RRF_TOP_K, "doc_id")
        .select(
            "query_id",
            "doc_id",
            F.col("lex_rank").cast("int").alias("lex_rank"),
            F.col("vec_rank").cast("int").alias("vec_rank"),
            "rrf_score",
        )
        .orderBy("query_id", F.desc("rrf_score"), "doc_id")
    )


_IVFPQ_CTES = f"""
    WITH vecs AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      WHERE list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                             list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0
    ), cd AS (
      SELECT label AS cid, i,
             CAST(SUM(CAST(v[i] AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS m
      FROM vecs, (SELECT unnest(range(1, {EMBED_DIM + 1})) AS i) dims
      GROUP BY label, i
    ), cents AS (
      SELECT cid, list(m ORDER BY i) AS cv FROM cd GROUP BY cid
    ), c2 AS (
      SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnorm FROM cents
    ), assigned AS (
      SELECT vec_id, v, cell FROM (
        SELECT vecs.vec_id, vecs.v, c.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY vecs.vec_id
                 ORDER BY ROUND(list_dot_product(vecs.v, c.cv)
                         / (sqrt(list_dot_product(vecs.v, vecs.v)) * c.cnorm), 9) DESC,
                          c.cid) AS rn
        FROM vecs CROSS JOIN c2 c
      ) WHERE rn = 1
    ), probes AS (
      SELECT query_id, qv, cell FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, c.cid AS cell,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY ROUND(list_dot_product(q.v, c.cv)
                         / (sqrt(list_dot_product(q.v, q.v)) * c.cnorm), 9) DESC,
                          c.cid) AS rn
        FROM vecs q CROSS JOIN c2 c WHERE q.vec_id < {N_QUERY_VECS}
      ) WHERE rn <= {N_PROBE}
    ), rd AS (
      SELECT a.vec_id, a.vec_id % {N_PQ_CLUSTERS} AS cl_seed, i - 1 AS dim,
             (i - 1) // {PQ_SUB_DIM} AS sub,
             a.v[CAST(i AS INT)] - ct.cv[CAST(i AS INT)] AS rx
      FROM assigned a JOIN c2 ct ON ct.cid = a.cell,
           (SELECT unnest(range(1, {EMBED_DIM + 1})) AS i) dims
    ), codebook AS (
      SELECT cl_seed AS cl, dim,
             CAST(SUM(CAST(rx AS DECIMAL(30,6))) AS DOUBLE) / COUNT(rx) AS c
      FROM rd GROUP BY cl_seed, dim
    ), cdists AS (
      SELECT d.vec_id, d.sub, cb.cl,
             ROUND(CAST(SUM(CAST((d.rx - cb.c) * (d.rx - cb.c) AS DECIMAL(38,6)))
                        AS DOUBLE), 6) AS d6
      FROM rd d JOIN codebook cb ON cb.dim = d.dim
      GROUP BY d.vec_id, d.sub, cb.cl
    ), codes AS (
      SELECT vec_id, sub, cl FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                     ORDER BY d6, cl) AS rn
        FROM cdists
      ) WHERE rn = 1
    ), qrd AS (
      SELECT p.query_id, p.cell, i - 1 AS dim, (i - 1) // {PQ_SUB_DIM} AS sub,
             p.qv[CAST(i AS INT)] - ct.cv[CAST(i AS INT)] AS rx
      FROM probes p JOIN c2 ct ON ct.cid = p.cell,
           (SELECT unnest(range(1, {EMBED_DIM + 1})) AS i) dims
    ), lut AS (
      SELECT q.query_id, q.cell, q.sub, cb.cl,
             ROUND(CAST(SUM(CAST((q.rx - cb.c) * (q.rx - cb.c) AS DECIMAL(38,6)))
                        AS DOUBLE), 6) AS d6
      FROM qrd q JOIN codebook cb ON cb.dim = q.dim
      GROUP BY q.query_id, q.cell, q.sub, cb.cl
    ), adc AS (
      SELECT l.query_id, c.vec_id,
             CAST(SUM(CAST(l.d6 AS DECIMAL(38,6))) AS DOUBLE) AS adc_dist
      FROM codes c
      JOIN assigned a ON a.vec_id = c.vec_id
      JOIN lut l ON l.cell = a.cell AND l.sub = c.sub AND l.cl = c.cl
                AND c.vec_id <> l.query_id
      GROUP BY l.query_id, c.vec_id
      HAVING COUNT(*) = {PQ_SUBS}
    )
"""

_IVFPQ_ORACLE = (
    _IVFPQ_CTES
    + f"""
    SELECT query_id, vec_id, adc_dist FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, vec_id) AS rn
      FROM adc
    ) WHERE rn <= {TOP_K}
    ORDER BY query_id, adc_dist, vec_id
"""
)


@query("ivfpq_ann", oracle=_IVFPQ_ORACLE, tags=("U5",), policy=sized)
def ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U5] IVF-PQ compound index (the FAISS ``IndexIVFPQ`` architecture,
    re-expressed Spark-first): coarse quantizer cells from ``ivf_ann``'s
    in-plan centroid model, RESIDUAL product quantization inside each
    cell (r = v − centroid(cell), PQ codebooks trained on residuals —
    residual energy is what PQ should spend its bits on; encoding raw
    vectors wastes the coarse structure), and asymmetric-distance (ADC)
    search over only the probed cells. This is the architecture a real
    100 TB vector store runs: the cell prunes the scan, the 4-byte code
    replaces the 256-byte vector, the per-(query, cell) LUT makes each
    candidate a 4-lookup add.

    Residual codebook seed: ``vec_id % k`` (a deterministic pseudo-random
    partition — the per-label seed the raw-space PQ family uses would be
    DEGENERATE here: the mean residual of a coarse cell's own training
    label is the zero vector by construction).

    Exactness: coarse centroids and residual codebooks are decimal-mean
    deterministic (``davg``); every residual is one IEEE subtract of
    identical doubles; sub-distances snap to 1e-6 before summing (the
    ``pq_encode`` recipe); code election and top-k carry full tie-breaks.

    Scale: the corpus is touched by (a) the map-only cell assignment,
    (b) one (vec, sub, cl)-grouped partial-aggregated residual-distance
    pass (the encode — shuffles code-sized rows, not vectors), and
    (c) one broadcast-LUT hash join over probed cells — the corpus
    itself is never shuffled at search time, and the LUT is
    O(queries × probes × subs × k) regardless of corpus size.

    Measured recall decomposition (sf0.01, vs global-cosine truth):
    exact residual-L2 within the 3 probed cells ceilings at ~0.5
    (coarse-probe loss + the L2-vs-cosine metric gap), and the 4-sub ×
    10-code ADC lands at ~0.1-0.2 — expected for a ~13-bit code; a
    production index widens k (256 codes), raises n_probe, and
    refine-reranks the ADC short-list exactly (the
    ``pq_refine_rerank`` rung), which recovers the probed-cell
    ceiling. The catalog keeps the RAW index semantics here so the
    quantization loss itself stays measured and oracle-checked."""
    model, assigned, q = _ivf_index(spark, sf_dir)

    def cellv(cellcol: str):
        # the probed/assigned cell's centroid vector, looked up from the
        # 1-row broadcast model (map-only; never a join against a
        # centroid TABLE, which would shuffle the corpus)
        return F.element_at(
            F.filter(F.col("ca"), lambda c: c["cid"] == F.col(cellcol)), 1
        )["cv"]

    rd = (
        assigned.join(model)
        .select(
            "vec_id",
            (F.col("vec_id") % N_PQ_CLUSTERS).alias("cl_seed"),
            "cell",
            cellv("cell").alias("cv"),
            F.posexplode("v").alias("dim", "xf"),
        )
        .select(
            "vec_id",
            "cl_seed",
            "cell",
            "dim",
            (F.col("dim") / PQ_SUB_DIM).cast("int").alias("sub"),
            (
                F.col("xf").cast("double")
                - F.element_at(F.col("cv"), F.col("dim") + 1)
            ).alias("rx"),
        )
    )
    codebook = F.broadcast(
        rd.groupBy(F.col("cl_seed").alias("cl"), "dim").agg(davg("rx").alias("c"))
    )
    diff = F.col("rx") - F.col("c")
    cdists = (
        rd.join(codebook, "dim")
        .groupBy("vec_id", "sub", "cl")
        .agg(
            F.round(
                F.sum((diff * diff).cast("decimal(38,6)")).cast("double"), 6
            ).alias("d6")
        )
    )
    codes = cdists.groupBy("vec_id", "sub").agg(
        F.min_by("cl", F.struct("d6", "cl")).alias("cl")
    )

    probes = q.join(model).select(
        "query_id",
        "qv",
        F.explode(F.transform(_probe_cells(N_PROBE), lambda s: s["cid"])).alias(
            "cell"
        ),
    )
    qrd = (
        probes.join(model)
        .select(
            "query_id",
            "cell",
            cellv("cell").alias("cv"),
            F.posexplode("qv").alias("dim", "xf"),
        )
        .select(
            "query_id",
            "cell",
            "dim",
            (F.col("dim") / PQ_SUB_DIM).cast("int").alias("sub"),
            (
                F.col("xf").cast("double")
                - F.element_at(F.col("cv"), F.col("dim") + 1)
            ).alias("rx"),
        )
    )
    lut = F.broadcast(
        qrd.join(codebook, "dim")
        .groupBy("query_id", "cell", "sub", "cl")
        .agg(
            F.round(
                F.sum((diff * diff).cast("decimal(38,6)")).cast("double"), 6
            ).alias("d6")
        )
    )
    adc = (
        codes.join(assigned.select("vec_id", "cell"), "vec_id")
        .join(lut, ["cell", "sub", "cl"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.sum(F.col("d6").cast("decimal(38,6)")).cast("double").alias("adc_dist"),
            F.count(F.lit(1)).alias("n_subs"),
        )
        .filter(F.col("n_subs") == PQ_SUBS)
    )
    return top_k(adc, "adc_dist").select("query_id", "vec_id", "adc_dist")


_IVFPQ_RECALL_ORACLE = (
    _IVFPQ_CTES
    + f"""
    , ivfpq_top AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist, vec_id) AS rn
        FROM adc
      ) WHERE rn <= {TOP_K}
    ), gscored AS (
      SELECT q.vec_id AS query_id, vecs.vec_id,
             ROUND(list_dot_product(q.v, vecs.v)
                   / (sqrt(list_dot_product(q.v, q.v))
                      * sqrt(list_dot_product(vecs.v, vecs.v))), 6) AS cs
      FROM vecs q JOIN vecs ON vecs.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERY_VECS}
    ), gt AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cs DESC, vec_id) AS rn
        FROM gscored
      ) WHERE rn <= {TOP_K}
    )
    SELECT g.query_id,
           CAST(COUNT(t.vec_id) AS BIGINT) AS n_hits,
           COUNT(t.vec_id) / CAST({TOP_K} AS DOUBLE) AS recall_at_k
    FROM gt g LEFT JOIN ivfpq_top t
      ON t.query_id = g.query_id AND t.vec_id = g.vec_id
    GROUP BY g.query_id
    ORDER BY g.query_id
"""
)


@query("ivfpq_recall", oracle=_IVFPQ_RECALL_ORACLE, tags=("U5",))
def ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U5] recall@k acceptance metric for ``ivfpq_ann`` against the
    exact ``knn_bruteforce`` truth — the number that makes the compound
    index's quantization loss MEASURED AND ORACLE-CHECKED rather than a
    docstring claim: at this fixture's deliberately tiny code
    (4 subspaces × 10 codes ≈ 13 bits/vector) raw-ADC recall lands
    ~0.1–0.2, the cost side of the ~64× vector-payload compression the
    docstring trades (recovery rungs: wider k, higher n_probe, the
    ``pq_refine_rerank`` rerank pattern). Composes the two catalog
    builders verbatim; evaluation cost is index cost — the join touches
    k·n_queries id pairs."""
    return recall_at_k(
        ivfpq_ann(spark, sf_dir), knn_bruteforce(spark, sf_dir)
    ).orderBy("query_id")
