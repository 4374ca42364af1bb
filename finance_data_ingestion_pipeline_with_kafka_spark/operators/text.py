"""Text analysis over the ``documents`` table (SURVEY §2.10 U6; north-star
"text analysis").

Everything is built-in expression work (split/filter/transform/explode) —
JVM-side, no Python UDFs — so it scales linearly with document bytes and
stays inside whole-stage codegen at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.core import DEC, davg
from ..registry import query, sized

# Tiny per-language stopword anchors for the n-gram/stopword language-ID
# heuristic. Real corpora would use a larger table broadcast as a dim.
_STOP = {
    "en": ("the", "a", "of"),
    "es": ("el", "la", "de"),
    "fr": ("le", "la", "de"),
    "de": ("der", "die", "das"),
}

TOKEN_SPLIT = r"\s+"


def tokens(col: str = "text") -> F.Column:
    """Whitespace tokenization of trimmed text (the BPE-ish piece counter
    lives in ``bpe_token_count``)."""
    return F.split(F.trim(F.col(col)), TOKEN_SPLIT)


@query(
    "token_stats",
    oracle="""
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
           length(text) AS n_chars_computed,
           length(regexp_replace(text, '[^aeiou]', '', 'g')) AS n_vowels,
           ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(string_split_regex(trim(text), '\\s+')), 6) AS avg_token_len
    FROM documents
    """,
    tags=("U6",),
    bench=True,
    policy=sized,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U6] Token counting + character-class stats — per-row expression
    work, fully pushed into codegen."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens())
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length("text").alias("n_chars_computed"),
        F.length(F.regexp_replace("text", "[^aeiou]", "")).alias("n_vowels"),
        F.round(
            F.length(F.regexp_replace("text", " ", "")).cast("double") / n_tokens, 6
        ).alias("avg_token_len"),
    )  # presentation sort dropped (order-insensitive compare)


def quality_expr() -> F.Column:
    """The heuristic quality score as a reusable column expression —
    shared by ``quality_score`` (reports it) and the corpus-build funnel
    (filters on it), so both sides and their oracles stay in lockstep."""
    toks = tokens()
    n_tokens = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of")))
    return (
        F.least(n_tokens / F.lit(50.0), F.lit(1.0)) * 0.5
        + (1.0 - stop_hits / n_tokens.cast("double")) * 0.3
        + F.when(F.length("text").between(20, 2000), 0.2).otherwise(0.0)
    )


#: The quality expression in DuckDB SQL — textual twin of ``quality_expr``.
QUALITY_SQL = """ROUND(LEAST(len(string_split_regex(trim(text), '\\s+')) / 50.0, 1.0) * 0.5
                 + (1.0 - len(list_filter(string_split_regex(trim(text), '\\s+'),
                                          t -> t IN ('the', 'a', 'of')))
                         / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)) * 0.3
                 + CASE WHEN length(text) BETWEEN 20 AND 2000 THEN 0.2 ELSE 0.0 END,
                 6)"""


@query(
    "quality_score",
    oracle="""
    SELECT doc_id,
           ROUND(LEAST(len(string_split_regex(trim(text), '\\s+')) / 50.0, 1.0) * 0.5
                 + (1.0 - len(list_filter(string_split_regex(trim(text), '\\s+'),
                                          t -> t IN ('the', 'a', 'of')))
                         / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)) * 0.3
                 + CASE WHEN length(text) BETWEEN 20 AND 2000 THEN 0.2 ELSE 0.0 END,
                 6) AS quality
    FROM documents
    ORDER BY doc_id
    """,
    tags=("U6",),
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U6] Heuristic document quality: length saturation + stopword-density
    penalty + size-window bonus (the C4/Gopher-rule family, composable)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", F.round(quality_expr(), 6).alias("quality")).orderBy("doc_id")


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in _STOP[lang])
    return (
        f"len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t IN ({words})))"
        f" / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)"
    )


@query(
    "language_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_lang_score_sql("en")} AS score_en,
             {_lang_score_sql("es")} AS score_es,
             {_lang_score_sql("fr")} AS score_fr,
             {_lang_score_sql("de")} AS score_de
      FROM documents
    )
    SELECT doc_id, lang,
           CASE GREATEST(score_en, score_es, score_fr, score_de)
                WHEN 0 THEN 'und'
                WHEN score_en THEN 'en'
                WHEN score_es THEN 'es'
                WHEN score_fr THEN 'fr'
                ELSE 'de' END AS predicted_lang
    FROM scored
    ORDER BY doc_id
    """,
    tags=("U6",),
)
def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U6] Stopword-anchor language ID. Ties resolve in the fixed order
    en→es→fr→de in both engines (CASE evaluates in declaration order)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    n = F.size(toks).cast("double")

    def score(lang: str) -> F.Column:
        return F.size(F.filter(toks, lambda t: t.isin(*_STOP[lang]))) / n

    scored = d.select(
        "doc_id",
        "lang",
        score("en").alias("score_en"),
        score("es").alias("score_es"),
        score("fr").alias("score_fr"),
        score("de").alias("score_de"),
    )
    best = F.greatest("score_en", "score_es", "score_fr", "score_de")
    return scored.select(
        "doc_id",
        "lang",
        F.when(best == 0, "und")
        .when(best == F.col("score_en"), "en")
        .when(best == F.col("score_es"), "es")
        .when(best == F.col("score_fr"), "fr")
        .otherwise("de")
        .alias("predicted_lang"),
    ).orderBy("doc_id")


@query(
    "word_frequency",
    oracle="""
    SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
          FROM documents)
    GROUP BY token
    ORDER BY n_occurrences DESC, token
    LIMIT 20
    """,
    tags=("U6", "F8"),
)
def word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U6/F8] Corpus term frequency via explode — the map-side-combine
    wordcount; top-20 with deterministic tie-break."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(tokens()).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "token")
        .limit(20)
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    ORDER BY doc_id
    """,
    tags=("U6", "U4"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U6] Canonical-form content fingerprint (lowercase, collapsed
    whitespace) — the key for exact near-canonical dedup."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))).alias("fingerprint"),
    ).orderBy("doc_id")


@query(
    "tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, term,
           ROUND(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
    QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tf * ln((n_docs + 1.0) / (df + 1.0)) DESC, term) = 1
    ORDER BY doc_id
    """,
    tags=("U6",),
    bench=True,
    policy=sized,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U6] TF-IDF as pure relational algebra: term frequency (groupBy),
    document frequency (distinct-count), smoothed idf = ln((N+1)/(df+1)),
    top-scoring term per document. No ML pipeline needed — and this
    formulation scales as two hash aggregations + one broadcast-ish join
    on the term dictionary."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens()).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # document frequency: groupBy(term) over the tf table — partial
    # aggregation shrinks the shuffle to (distinct terms per map task),
    # then the vocab-sized df table broadcasts back onto tf. This
    # replaced a count() window over term, which re-shuffled the ENTIRE
    # tf table with no map-side combine (measured slower at sf0.1 and
    # strictly worse at corpus scale where vocab ≪ doc×term rows).
    # n_docs stays IN-PLAN: a 1-row aggregate broadcast-cross-joined onto
    # the tf table — no driver-side action, no extra scan job; the 1-row
    # side is a BroadcastNestedLoopJoin costing nothing per tf row.
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    # df counts rows of tf, but written as count(1) Catalyst prunes tf's
    # unused count column, rewrites this branch to a DISTINCT(doc_id,
    # term), and the subtree no longer canonically matches the tf
    # branch — so ReuseExchange can't fire and the corpus is tokenized
    # and partially aggregated TWICE (two Generate+HashAggregate+Exchange
    # chains over documents in the r15 plan). count(CASE WHEN tf > 0
    # THEN 1 END) is value-identical (tf = count(*) ≥ 1 always) but
    # keeps the dependence on tf, so both branches share one exchange:
    # plan shows ReusedExchange, one corpus tokenize instead of two
    # (guide §2.4 — two operations keyed the same way share one
    # exchange).
    df_tbl = F.broadcast(
        tf.groupBy("term").agg(F.count(F.when(F.col("tf") > 0, 1)).alias("df"))
    )
    with_df = tf.join(df_tbl, "term").crossJoin(F.broadcast(n))
    tfidf = F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
    # argmax term per doc via min_by over (-tfidf, term): max tfidf, ties
    # to the lexicographically first term — same order as the previous
    # row_number window, but with partial aggregation (one candidate row
    # per doc per map task crosses the wire, not every doc×term row)
    return (
        with_df.groupBy("doc_id")
        .agg(
            F.min_by(
                F.struct(F.col("term"), tfidf.alias("tfidf")),
                F.struct((-tfidf).alias("neg"), F.col("term")),
            ).alias("top")
        )
        .select("doc_id", F.col("top.term").alias("term"), F.round("top.tfidf", 6).alias("tfidf"))
        # presentation sort dropped (order-insensitive compare)
    )


#: GPT-2-ish pre-tokenizer shape: letter runs | digit runs | single
#: punctuation marks. Portable between Java regex (Spark) and DuckDB's RE2.
BPE_PIECE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@query(
    "bpe_token_count",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_pieces,
           len(string_split_regex(trim(text), '\\s+')) AS n_whitespace_tokens
    FROM documents
    ORDER BY doc_id
    """,
    tags=("U6",),
)
def bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U6] BPE-ish token counting: pre-tokenizer pieces (letter runs,
    digit runs, punctuation marks) as the LLM-token-budget estimator, next
    to the plain whitespace count. Pure per-row regexp work inside
    codegen — the cheap first-pass budget filter a training pipeline runs
    before real tokenization."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(BPE_PIECE), F.lit(0))).alias("n_pieces"),
        F.size(tokens()).alias("n_whitespace_tokens"),
    ).orderBy("doc_id")


WINNOW_K = 3  # tokens per k-gram
WINNOW_W = 4  # grams per winnowing window


@query(
    "winnow_fingerprints",
    oracle="""
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
    )
    SELECT DISTINCT doc_id,
           MIN(gh) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
    FROM grams
    ORDER BY doc_id, fp
    """,
    tags=("U4", "U6",),
)
def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U4/U6] Winnowing document fingerprints (the MOSS rolling-hash
    scheme): hash every 3-token k-gram, slide a 4-gram window, keep each
    window's minimum hash. Guarantees any shared run of ≥ k+w-1 tokens
    between two documents shares a fingerprint — the substring-overlap
    detector that pairwise comparison can't give you at corpus scale.
    Two window passes over the same (doc_id, pos) sort → one shuffle;
    fingerprints join against themselves bucket-wise for overlap mining."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(F.split(F.trim(F.col("text")), TOKEN_SPLIT)).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.concat_ws(" ", F.col("tok"), F.lead("tok", 1).over(w), F.lead("tok", 2).over(w))
    grams = (
        tok.select("doc_id", "pos", F.md5(gram).alias("gh"), F.lead("tok", 2).over(w).alias("tail"))
        .filter(F.col("tail").isNotNull())
        .drop("tail")
    )
    ww = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    return (
        grams.select("doc_id", F.min("gh").over(ww).alias("fp"))
        .distinct()
        .orderBy("doc_id", "fp")
    )


@query(
    "word_entropy",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM documents
    ), wc AS (
      SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           ROUND(log2(CAST(SUM(c) AS DOUBLE))
                 - CAST(SUM(CAST(c * log2(CAST(c AS DOUBLE)) AS DECIMAL(30,6)))
                        AS DOUBLE) / SUM(c), 6) AS entropy
    FROM wc GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("U6",),
)
def word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U6] Per-document Shannon entropy over the word distribution —
    the vocabulary-diversity quality signal (low entropy = repetitive /
    template text, a standard LLM-curation filter alongside the Gopher
    ratios in ``quality_score``).

    H = log2(N) − (Σ c·log2 c)/N over per-word counts c. The Σ term is
    per-term rounded to 6 digits and summed exactly (decimal
    accumulation) so distributed partial aggregation is order-independent
    and matches the oracle bit-for-bit; log2 drift between engines is
    ~1e-12 absolute, far below the rounding grain. Two key-bounded
    shuffles: (doc_id, word) count, then per-doc aggregation."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select("doc_id", F.explode(tokens()).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    term = (F.col("c") * F.log2(F.col("c").cast("double"))).cast(DEC)
    return (
        wc.groupBy("doc_id")
        .agg(
            n.cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.round(
                F.log2(n.cast("double")) - F.sum(term).cast("double") / n, 6
            ).alias("entropy"),
        )
        .orderBy("doc_id")
    )


CHUNK_TOKENS = 16  # chunk length (tokens)
CHUNK_STRIDE = 12  # chunk step — overlap of CHUNK_TOKENS - CHUNK_STRIDE


@query(
    "chunk_documents",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ), sized AS (
      SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
    )
    SELECT doc_id,
           UNNEST(range(0, n, {CHUNK_STRIDE})) AS chunk_start,
           CAST((n + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE} AS BIGINT) AS n_chunks,
           UNNEST(list_transform(range(0, n, {CHUNK_STRIDE}),
                  s -> CAST(least({CHUNK_TOKENS}, n - s) AS BIGINT))) AS chunk_len,
           UNNEST(list_transform(range(0, n, {CHUNK_STRIDE}),
                  s -> md5(array_to_string(
                         t[CAST(s + 1 AS INT):CAST(s + {CHUNK_TOKENS} AS INT)], ' '))))
             AS chunk_md5
    FROM sized
    ORDER BY doc_id, chunk_start
    """,
    tags=("U6",),
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U6] Overlapping token-window chunking — the RAG-ingest /
    context-window-preprocessing shape: every document is cut into
    ``CHUNK_TOKENS``-token windows stepped by ``CHUNK_STRIDE`` (trailing
    partial window kept), identified by content hash. Pure narrow
    expression work (split → sequence → explode → slice → md5): chunking
    runs at scan speed with zero shuffles, so a 100 TB corpus chunks at
    aggregate scan bandwidth and the expensive downstream step (embedding
    the chunks) sees only the chunk stream."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    sized = d.select("doc_id", toks.alias("t"), F.size(toks).alias("n")).filter(
        F.col("n") > 0
    )
    start = F.explode(
        F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE))
    ).alias("chunk_start")
    ex = sized.select("doc_id", "t", "n", start)
    chunk = F.slice("t", F.col("chunk_start") + 1, F.lit(CHUNK_TOKENS))
    return ex.select(
        "doc_id",
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.expr(f"(n + {CHUNK_STRIDE - 1}) div {CHUNK_STRIDE}").alias("n_chunks"),
        F.least(F.lit(CHUNK_TOKENS), F.col("n") - F.col("chunk_start"))
        .cast("long")
        .alias("chunk_len"),
        F.md5(F.encode(F.concat_ws(" ", chunk), "utf-8")).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_start")


BM25_K1 = 1.2
BM25_B = 0.75
BM25_N_TERMS = 3  # query = the corpus's top-N terms, derived in-plan


@query(
    "bm25_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term
    ), dl AS (
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(dl AS DECIMAL(30,6))) AS DOUBLE) / COUNT(dl) AS avgdl
      FROM dl
    ), df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), q AS (
      SELECT term, df FROM (
        SELECT term, df,
               ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rn
        FROM df
      ) WHERE rn <= {BM25_N_TERMS}
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_query_terms_hit,
           ROUND(SUM(
             ln((s.n_docs - q.df + 0.5) / (q.df + 0.5) + 1)
             * t.tf * ({BM25_K1} + 1)
             / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * d.dl / s.avgdl))
           ), 6) AS bm25
    FROM tf t
    JOIN q USING (term)
    JOIN dl d USING (doc_id)
    CROSS JOIN stats s
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
    tags=("U6",),
)
def bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U6] BM25 relevance scoring (k1=1.2, b=0.75) — the search-ranking
    primitive over the corpus, with the query built IN-PLAN as the
    corpus's top-3 document-frequency terms (deterministic
    df-then-term ranking), so the whole retrieval-scoring pipeline is one
    declarative plan with no driver-side term list. Every BM25 input
    (tf, df, dl, N) is an exact integer and avgdl an exact decimal mean,
    so both engines evaluate the identical double formula and the driver
    hash-compare is exact. Scale: tf/df/dl are the same two hash
    aggregations TF-IDF uses; the query-term table (BM25_N_TERMS rows)
    and the corpus stats (1 row) broadcast — scoring is a narrow pass
    over the tf table."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens()).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), davg("dl").alias("avgdl")
    )
    # count a tf-referencing expression (value-identical: tf >= 1) so
    # this branch shares the tf exchange instead of re-tokenizing the
    # corpus (ReuseExchange — the r16 tfidf lesson, guide §2.4)
    df_tbl = tf.groupBy("term").agg(F.count(F.when(F.col("tf") > 0, 1)).alias("df"))
    w = Window.orderBy(F.desc("df"), "term")
    q = df_tbl.select("term", "df", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= BM25_N_TERMS
    ).drop("rn")
    scored = (
        tf.join(F.broadcast(q), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    term_score = (
        idf
        * F.col("tf")
        * (BM25_K1 + 1)
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_query_terms_hit"),
            F.round(F.sum(term_score), 6).alias("bm25"),
        )
        .orderBy("doc_id")
    )


@query(
    "dataset_card",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             md5(text) AS fp
      FROM documents
    ), langs AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY lang
    ), top_lang AS (
      SELECT lang AS tl_lang, n FROM (
        SELECT lang, n, ROW_NUMBER() OVER (ORDER BY n DESC, lang) AS rn
        FROM langs
      ) WHERE rn = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(n_tokens AS DECIMAL(30,6))) AS DOUBLE) AS total_tokens,
           ROUND(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
           ROUND(quantile_cont(n_tokens, 0.9), 4) AS p90_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           MAX(tl.tl_lang) AS top_lang,
           ROUND(CAST(MAX(tl.n) AS DOUBLE) / COUNT(*), 6) AS top_lang_share,
           CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_exact_dups,
           ROUND(1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 6)
             AS exact_dup_rate
    FROM t CROSS JOIN top_lang tl
    """,
    tags=("U6", "A1"),
)
def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U6] One-row dataset card — the corpus-level summary an LLM-data
    engineer publishes next to a training set: doc/token volume, token
    percentiles, language diversity + dominant-language share, and the
    exact-duplicate rate (content-fingerprint distinct count). ONE plan
    composing the engine's existing primitives; every number is either an
    exact integer, an exact decimal sum, or an interpolated percentile
    rounded past ULP noise, so the single output row hash-matches. At
    scale this is the nightly corpus health check: two hash aggregations
    (doc stats, lang mix) + a distinct-count, all partial+final."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        F.size(tokens()).alias("n_tokens"),
        F.md5("text").alias("fp"),
    )
    langs = t.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    wl = Window.orderBy(F.desc("n"), "lang")
    top_lang = (
        langs.select("lang", "n", F.row_number().over(wl).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return t.crossJoin(F.broadcast(top_lang.withColumnRenamed("lang", "tl_lang"))).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tokens").cast(DEC)).cast("double").alias("total_tokens"),
        F.round(F.expr("percentile(n_tokens, 0.5)"), 4).alias("p50_tokens"),
        F.round(F.expr("percentile(n_tokens, 0.9)"), 4).alias("p90_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.max("tl_lang").alias("top_lang"),
        F.round(F.max("n").cast("double") / F.count(F.lit(1)), 6).alias(
            "top_lang_share"
        ),
        (F.count(F.lit(1)) - F.countDistinct("fp")).cast("bigint").alias("n_exact_dups"),
        F.round(
            1.0 - F.countDistinct("fp").cast("double") / F.count(F.lit(1)), 6
        ).alias("exact_dup_rate"),
    )


@query(
    "unigram_logprob",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
      FROM documents
    ), dwc AS (
      SELECT doc_id, w, COUNT(*) AS k FROM toks GROUP BY doc_id, w
    ), cw AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks
    )
    SELECT d.doc_id,
           CAST(SUM(d.k) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(d.k * ln(CAST(cw.c AS DOUBLE) / tot.n)
                               AS DECIMAL(30,6))) AS DOUBLE)
                 / SUM(d.k), 6) AS mean_logprob
    FROM dwc d JOIN cw USING (w) CROSS JOIN tot
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
    tags=("U6",),
)
def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U6] Self-trained unigram language-model scoring — the perplexity
    -filter rung of the CCNet/Gopher curation recipe, using the corpus
    itself as the LM: every document gets the mean log-probability of
    its tokens under the corpus unigram distribution. Documents full of
    corpus-typical words score high (near the corpus's own ceiling);
    documents of rare junk score very low — the complement of
    ``word_entropy`` (which sees only WITHIN-doc diversity and cannot
    tell rare-junk from common-fluent). Model-order sibling of
    ``bigram_lm_score`` (training.py): that one scores conditional
    P(w₂|w₁) and flags unusual SEQUENCES of common words; this one
    scores marginal P(w) and flags rare VOCABULARY regardless of order
    — curation pipelines run both because each misses the other's
    failure mode.

    Numeric contract (the ``word_entropy`` pattern): each ``k·ln(c/N)``
    term is rounded into DECIMAL(30,6) before summation — cross-engine
    libm ``ln`` drift is ~1e-12 absolute, far below the 0.5e-6 grain —
    so the per-doc sums are order-free and bit-identical; one final
    ROUND at 6. Scale: two token-keyed count aggregations (map-side
    partials absorb the stopword skew before the shuffle), then one
    (doc, token)→token join whose right side is one row per vocab term
    — broadcastable for real vocabularies — and a per-doc regroup. The
    corpus total rides along as a broadcast scalar. No Python anywhere."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens()).alias("w"))
    dwc = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("k"))
    # cw and tot derive from dwc (Σk per term / Σk overall — exact
    # integer identities), not from toks: written over toks they each
    # re-tokenized the corpus (three Generate+Exchange chains); derived
    # from dwc they share its exchange (ReuseExchange — the r16 tfidf
    # lesson, guide §2.4), one tokenize total.
    cw = dwc.groupBy("w").agg(F.sum("k").cast("bigint").alias("c"))
    tot = dwc.agg(F.sum("k").cast("bigint").alias("n"))
    term = (
        F.col("k") * F.log(F.col("c").cast("double") / F.col("n"))
    ).cast(DEC)
    return (
        dwc.join(cw, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(term).cast("double") / F.sum("k"), 6
            ).alias("mean_logprob"),
        )
        .orderBy("doc_id")
    )


@query(
    "pmi_collocations",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents
    ), seq AS (
      SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos FROM toks
    ), big AS (
      SELECT a.w AS w1, b.w AS w2
      FROM seq a JOIN seq b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    ), pc AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair FROM big GROUP BY w1, w2
    ), uc AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM seq GROUP BY w
    ), tot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n_pairs_total FROM pc),
    utot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tok FROM uc),
    scored AS (
      SELECT p.w1, p.w2, p.n_pair,
             (CAST(p.n_pair AS DOUBLE) / CAST(t.n_pairs_total AS DOUBLE))
             / ((CAST(u1.n AS DOUBLE) / CAST(ut.n_tok AS DOUBLE))
                * (CAST(u2.n AS DOUBLE) / CAST(ut.n_tok AS DOUBLE))) AS lift
      FROM pc p, tot t, utot ut
      JOIN uc u1 ON u1.w = p.w1
      JOIN uc u2 ON u2.w = p.w2
      WHERE p.n_pair >= 5
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC, w1, w2) AS rn FROM scored
    )
    SELECT w1, w2, n_pair, lift FROM ranked WHERE rn <= 50
    ORDER BY lift DESC, w1, w2
    """,
    tags=("U6",),
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U6] Top collocations by pointwise mutual information — the
    corpus-linguistics measure of which adjacent word pairs co-occur far
    above chance (P(ab) / (P(a)·P(b))), the standard phrase-mining and
    tokenizer-vocabulary signal. Reported as LIFT (the exact probability
    ratio) rather than its log: the ratio is one fixed sequence of
    divisions over exact integer counts — bit-identical across engines —
    whereas log() differs between libm implementations in the last ULP
    and would need output rounding. Ranking by lift ≡ ranking by PMI
    (log is monotone), so nothing is lost. Min pair count 5 suppresses
    the unstable tail; top-50 via ROW_NUMBER with a full (lift, w1, w2)
    tiebreak, never bare LIMIT. (On this synthetic corpus lifts hover
    near 1 — honest: the generator has little phrase structure.)

    Spark side builds bigrams NARROWLY — ``arrays_zip`` of the token
    array with its own 1-shifted slice, exploded — no positional
    self-join, no shuffle until the (w1, w2) count. Unigram/bigram
    totals are one-row broadcast frames (literal-carry). At 100 TB the
    two count aggregations are the only fact-sized shuffles; the scored
    candidate set (pairs with n≥5) is vocabulary²-bounded and in
    practice MB-scale, so the global top-50 sort is trivial."""
    d = load_table(spark, sf_dir, "documents").select(tokens().alias("ws"))
    pairs = d.select(
        F.explode(
            F.arrays_zip(
                F.expr("slice(ws, 1, greatest(size(ws) - 1, 0))").alias("w1"),
                F.expr("slice(ws, 2, greatest(size(ws) - 1, 0))").alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    pc = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pair")
    )
    uc = (
        d.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = pc.agg(F.sum("n_pair").cast("bigint").alias("n_pairs_total"))
    utot = uc.agg(F.sum("n").cast("bigint").alias("n_tok"))
    u1 = uc.toDF("w1_u", "n1")
    u2 = uc.toDF("w2_u", "n2")
    scored = (
        pc.filter(F.col("n_pair") >= 5)
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(utot))
        .join(u1, F.col("w1") == F.col("w1_u"))
        .join(u2, F.col("w2") == F.col("w2_u"))
        .select(
            "w1",
            "w2",
            "n_pair",
            (
                (F.col("n_pair").cast("double") / F.col("n_pairs_total").cast("double"))
                / (
                    (F.col("n1").cast("double") / F.col("n_tok").cast("double"))
                    * (F.col("n2").cast("double") / F.col("n_tok").cast("double"))
                )
            ).alias("lift"),
        )
    )
    w = Window.orderBy(F.desc("lift"), "w1", "w2")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .drop("rn")
        .orderBy(F.desc("lift"), "w1", "w2")
    )


@query(
    "language_id_eval",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_lang_score_sql("en")} AS score_en,
             {_lang_score_sql("es")} AS score_es,
             {_lang_score_sql("fr")} AS score_fr,
             {_lang_score_sql("de")} AS score_de
      FROM documents
    ), pred AS (
      SELECT lang,
             CASE GREATEST(score_en, score_es, score_fr, score_de)
                  WHEN 0 THEN 'und'
                  WHEN score_en THEN 'en'
                  WHEN score_es THEN 'es'
                  WHEN score_fr THEN 'fr'
                  ELSE 'de' END AS predicted_lang
      FROM scored
    )
    SELECT lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY lang) AS share_of_lang
    FROM pred GROUP BY lang, predicted_lang
    ORDER BY lang, predicted_lang
    """,
    tags=("U6", "A1"),
)
def language_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U6/A1] Confusion matrix for the stopword-anchor language
    classifier — the acceptance metric the ``language_id`` operator was
    missing (the same role ``ann_recall`` plays for ANN and
    ``nearest_centroid_eval`` for embeddings): per (true lang, predicted
    lang), the count and the row-normalized share. The diagonal is the
    per-language recall; off-diagonal mass names the confusion pairs
    (and the 'und' column shows where the stopword anchors simply don't
    fire — zh has no Latin stopword overlap, so its row IS the honest
    boundary of the heuristic).

    Composes the verified classifier output (same scoring expressions,
    same en→es→fr→de tie order); counts exact, shares single divisions
    over a window on the tiny matrix. At 100 TB: the classifier pass is
    the scan cost; the matrix is |langs|² rows."""
    pred = language_id(spark, sf_dir).select("lang", "predicted_lang")
    w = Window.partitionBy("lang")
    return (
        pred.groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            "lang",
            "predicted_lang",
            "n",
            (F.col("n").cast("double") / F.sum("n").over(w)).alias("share_of_lang"),
        )
        .orderBy("lang", "predicted_lang")
    )


#: Retrieval benchmark geometry: 4 two-term queries drawn from the
#: corpus's top-8 document-frequency terms (query i = terms 2i−1, 2i of
#: the df ranking), top-5 documents returned per query.
RETRIEVAL_N_QUERIES = 4
RETRIEVAL_TOP_K = 5


@query(
    "bm25_topk_retrieval",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term
    ), dl AS (
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(dl AS DECIMAL(30,6))) AS DOUBLE) / COUNT(dl) AS avgdl
      FROM dl
    ), df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), q AS (
      SELECT CAST((rn + 1) // 2 AS BIGINT) AS query_id, term, df FROM (
        SELECT term, df,
               ROW_NUMBER() OVER (ORDER BY df DESC, term) AS rn
        FROM df
      ) WHERE rn <= {2 * RETRIEVAL_N_QUERIES}
    ), scored AS (
      SELECT q.query_id, t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
             SUM(
               ln((s.n_docs - q.df + 0.5) / (q.df + 0.5) + 1)
               * t.tf * ({BM25_K1} + 1)
               / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * d.dl / s.avgdl))
             ) AS score
      FROM tf t
      JOIN q USING (term)
      JOIN dl d USING (doc_id)
      CROSS JOIN stats s
      GROUP BY q.query_id, t.doc_id
    )
    SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, n_terms_hit,
           ROUND(score, 6) AS bm25
    FROM (
      SELECT query_id, doc_id, n_terms_hit, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rank
      FROM scored
    ) WHERE rank <= {RETRIEVAL_TOP_K}
    ORDER BY query_id, rank
    """,
    tags=("U6", "U5", "O4"),
)
def bm25_topk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U6/U5] Multi-query lexical retrieval — the SEARCH output shape on
    top of ``bm25_score``'s scoring primitive: four two-term queries
    (derived in-plan from the corpus's top-8 df terms, so the whole
    benchmark is one declarative plan), each returning its BM25 top-5
    documents with ranks. The lexical baseline every embedding-ANN
    variant (``ivf_ann``/``pq_ann``) is compared against in a retrieval
    stack. Ranking happens on the UNROUNDED score — every BM25 input is
    an exact integer (tf, df, dl, N) or exact decimal mean (avgdl), so
    both engines evaluate the identical double formula and order
    identically; ties break on doc_id; the emitted score is rounded for
    display only. Scale: the query-term table (8 rows) and corpus stats
    (1 row) broadcast; scoring is a narrow pass over the tf table; the
    per-query top-k is a rank-filtered window over query_id partitions —
    at 100 TB the scored relation is |query terms' postings|, not the
    corpus."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens()).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), davg("dl").alias("avgdl"))
    # count a tf-referencing expression (value-identical: tf >= 1) so
    # this branch shares the tf exchange instead of re-tokenizing the
    # corpus (ReuseExchange — the r16 tfidf lesson, guide §2.4)
    df_tbl = tf.groupBy("term").agg(F.count(F.when(F.col("tf") > 0, 1)).alias("df"))
    w = Window.orderBy(F.desc("df"), "term")
    q = (
        df_tbl.select("term", "df", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 2 * RETRIEVAL_N_QUERIES)
        .select(
            F.expr("(rn + 1) div 2").cast("bigint").alias("query_id"), "term", "df"
        )
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    term_score = (
        idf
        * F.col("tf")
        * (BM25_K1 + 1)
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(q), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
            F.sum(term_score).alias("score"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    return (
        scored.select(
            "query_id",
            F.row_number().over(wr).cast("bigint").alias("rank"),
            "doc_id",
            "n_terms_hit",
            F.round("score", 6).alias("bm25"),
        )
        .filter(F.col("rank") <= RETRIEVAL_TOP_K)
        .orderBy("query_id", "rank")
    )


@query(
    "zipf_fit",
    oracle="""
    WITH freq AS (
      SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS token
            FROM documents)
      GROUP BY lang, token
    ), ranked AS (
      SELECT lang, ln(CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                              ORDER BY c DESC, token) AS DOUBLE)) AS x,
             ln(CAST(c AS DOUBLE)) AS y
      FROM freq
    ), m AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(30,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy
      FROM ranked GROUP BY lang
    )
    SELECT lang, n AS n_words,
           CASE WHEN n > 2 AND (n * sxx - sx * sx) > 0
                THEN ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
           END AS zipf_slope,
           CASE WHEN n > 2 AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                           / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           END AS r2
    FROM m ORDER BY lang
    """,
    tags=("U6", "A7"),
)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[U6/A7] Zipf's-law fit per language — OLS slope of
    ln(frequency) on ln(rank) over the vocabulary (natural text reads
    ~ -1; a corpus whose slope drifts far from the reference corpus's is
    template-heavy, deduplication-damaged, or synthetic — the
    distributional cousin of ``word_entropy`` and the standard corpus
    health check next to the Gopher gates in a 100 TB curation run).

    Exactness: ranks and counts are identical integers (deterministic
    (count desc, token) tie-break), so x/y are identical doubles; the
    five moment lanes snap at DECIMAL(30,6)/(38,6) — terms cap at
    ~ln(vocab)² (≈ 190 at a 10^6 vocabulary), leaving the 1e-6 grain
    ~7e7 ULPs of margin; slope/r² round at the very end. Degenerate
    languages (n ≤ 2 or zero x-variance) emit NULL identically.

    Scale: word counting is the partial+final wordcount exchange; the
    rank window and the moment aggregation run on the VOCABULARY frame
    (≪ corpus — a 100 TB web corpus's vocabulary is ~10^8 rows, one
    sort), never on token instances."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select("lang", F.explode(tokens()).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("c"), "token")
    ranked = freq.select(
        "lang",
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    x, y = F.col("x"), F.col("y")
    m = ranked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x.cast(DEC)).cast("double").alias("sx"),
        F.sum(y.cast(DEC)).cast("double").alias("sy"),
        F.sum((x * x).cast("decimal(38,6)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(38,6)")).cast("double").alias("syy"),
        F.sum((x * y).cast("decimal(38,6)")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    ok = (n > 2) & (varx > 0)
    return m.select(
        "lang",
        n.alias("n_words"),
        F.when(ok, F.round((n * sxy - sx * sy) / varx, 6)).alias("zipf_slope"),
        F.when(ok & (vary > 0), F.round(
            (n * sxy - sx * sy) * (n * sxy - sx * sy) / (varx * vary), 6
        )).alias("r2"),
    ).orderBy("lang")
