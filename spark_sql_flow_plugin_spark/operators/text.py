"""Text-analysis operators for training-data pipelines (NEW — SURVEY.md §7
M7): token counting (whitespace + BPE-ish regex), quality scoring,
n-gram-heuristic language ID, and winnowing document fingerprints.

Everything is built from JVM-side `pyspark.sql.functions` (no Python UDFs in
the hot path) so the whole stage stays inside whole-stage codegen; the same
formulas are replicated verbatim in the DuckDB oracle. Ratios are plain
double divisions of integer counts — bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..caching import scope_caches
from ..functions.exprs import local_values
from ..partitioning import spread
from ..registry import register
from ..sources import load

# Size floor for the tokenize-battery spread gates (bm25 / tfidf /
# lm_bigram / bpe x2 / logreg): an unconditional gate measured
# neutral-to-WORSE on the 0.58 MB sf0.1 corpus (r16-opt interleaved A/B —
# tokenizing 5k docs is cheaper than one added exchange) but the same
# single starved split carries 10x the CPU at sf1 (5.9 MB), where the
# gate wins multiples (A/B in
# `git show fc9683e:tools/ab_textspread_sf1_r16opt.py`). 2 MiB
# sits between the two measured regimes. The constant lives next to
# spread() itself since r17 (r16 ADVICE); re-exported here for the
# existing in-module call sites.
from ..partitioning import SPREAD_MIN_BYTES as _SPREAD_MIN_BYTES  # noqa: E402

_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
# Spark SQL string literals process backslash escapes; DuckDB's don't.
_BPE_RE_SPARK = _BPE_RE.replace("\\", "\\\\")
_SPARK_WTOKS = r"filter(split(lower(text), '\\s+'), t -> t != '')"
_DUCK_WTOKS = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t != '')"


# BM25 query set: terms drawn from the synthetic corpus vocabulary so
# every term has df > 0 at every SF; planted as (query_id, term) VALUES
# rows on both engines (no tokenizer in the query path to diverge).
_BM25_QUERIES = [
    (0, ("spark", "stream", "join")),
    (1, ("hash", "table", "scan")),
    (2, ("window", "sort", "merge")),
    (3, ("batch", "dup")),
]
_BM25_K = 10
_BM25_C44 = "CAST(44000000000 AS BIGINT)"


def _bm25_qvalues() -> str:
    return ", ".join(
        f"({q}, '{t}')" for q, terms in _BM25_QUERIES for t in terms
    )


def _bm25_term_sql(tf: str, df: str, length: str, n: str, s: str, div: str) -> str:
    """One query-term's BM25 contribution, quantized to q9 fixed point in
    EXACT BIGINT arithmetic (k1 = 6/5, b = 3/4 folded into integer
    coefficients): tf_part = 44*tf*S / (20*tf*S + 6*S + 18*L*N), and the
    ln of the Robertson-Sparck-Jones odds is replaced by the exact
    rational odds (2N-2df+1)/(2df+1) itself — libm ln() differs across
    engines in the last bits (the hard-sigmoid convention), while the
    odds are monotone in df with the same direction, so the scoring
    function is fully defined and bit-identical. Magnitude:
    1e9*44*tf*S needs tf*S < 2e8 — at sf1 (S~1.3e6, tf<=60) that is
    ~8e7; a 100 TB corpus scales the quantization to q6, a documented
    retune (the Kneser-Ney convention), not a silent wrap."""
    # 44000000000 = 1e9 (q9) * 44; one pre-folded literal — both engines
    # would otherwise fold 1000000000 * 44 in INT32 and overflow loudly
    return (
        f"(({_BM25_C44} * {tf} * {s}) {div} "
        f"(20 * {tf} * {s} + 6 * {s} + 18 * {length} * {n}))"
        f" * (2 * {n} - 2 * {df} + 1) {div} (2 * {df} + 1)"
    )


@register(
    "bm25_topk",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_DUCK_WTOKS}) AS tok FROM documents),
    dl AS (
        SELECT doc_id, CAST(len({_DUCK_WTOKS}) AS BIGINT) AS len_d
        FROM documents),
    st AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len_d) AS BIGINT) AS sum_len FROM dl),
    q(query_id, term) AS (VALUES {_bm25_qvalues()}),
    tf AS (
        SELECT q.query_id, q.term, t.doc_id, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks t JOIN q ON t.tok = q.term
        GROUP BY q.query_id, q.term, t.doc_id),
    dfq AS (
        SELECT t.tok AS term, CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS df
        FROM toks t JOIN (SELECT DISTINCT term FROM q) qq ON t.tok = qq.term
        GROUP BY t.tok),
    sc AS (
        SELECT tf.query_id, tf.doc_id,
               CAST(SUM({_bm25_term_sql('tf.tf', 'dfq.df', 'dl.len_d',
                                        'st.n_docs::BIGINT', 'st.sum_len::BIGINT', '//')})
                    AS BIGINT) AS score_q9
        FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN st
        GROUP BY tf.query_id, tf.doc_id)
    SELECT query_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score_q9 DESC, doc_id) AS INT)
               AS rank,
           doc_id, score_q9
    FROM sc
    QUALIFY rank <= {_BM25_K}
    """,
    "text",
    "llm-pipeline",
    "bench",
)
def bm25_topk(spark, sf_dir):
    """BM25 top-k retrieval over the documents corpus for a fixed query
    set — the lexical half of hard-negative mining and retrieval-based
    curation next to the embedding ANN battery (tf-idf profiles exist as
    text_tfidf_top_terms; this is the QUERY-side scorer). Okapi BM25
    (Robertson et al., TREC-3) with k1 = 1.2, b = 0.75, exact-BIGINT
    q9 scoring — see _bm25_term_sql for the ln-free odds convention and
    the overflow budget.

    Scale posture: the corpus-token postings build is the inverted-index
    shuffle any retrieval system pays (term-grain, map-side combinable);
    the 11-row query term set is broadcast into it (plan-gated), the
    corpus stats are two driver-collected scalars (colbert's
    closed-over-scalar pattern), and the per-query top-k is a
    WindowGroupLimit — never a global sort. Candidates are only docs
    containing >= 1 query term."""
    d = spread(
        spark,
        load(spark, sf_dir, "documents")["documents"],
        sf_dir,
        "documents",
        "doc_id",
        min_bytes=_SPREAD_MIN_BYTES,
    )
    # zero-task VALUES LocalRelation (r17): createDataFrame parallelized
    # the 22-row term list into 32 RDD slices, and each consuming job
    # (tf + df + both broadcasts) re-ran a 32-task ghost scan — the two
    # heaviest stages of the whole query in the r17 profile (~0.5 s per
    # job at local[32])
    qterms = local_values(
        spark,
        [(q, t) for q, terms in _BM25_QUERIES for t in terms],
        "query_id int, term string",
    )
    # persist only QUERY-TERM occurrences, not the whole token stream
    # (r16-opt continuation, guide §2.3/§2.4): both consumers (tf and df)
    # restrict to the broadcast term set anyway, so joining BELOW the
    # persist pushes the filter into the tokenize stage and shrinks the
    # cache and both consumer scans to the matching occurrences; the
    # (query_id, term) expansion stays above (a term can serve several
    # queries — re-attached per consumer from the same broadcast)
    toks = (
        d.select("doc_id", F.explode(F.expr(_SPARK_WTOKS)).alias("tok"))
        .join(
            F.broadcast(qterms.select("term").distinct()),
            F.col("tok") == F.col("term"),
        )
        .select("doc_id", "term")
        .persist()
    )
    dl = d.select(
        "doc_id",
        F.expr(f"size({_SPARK_WTOKS})").cast("bigint").alias("len_d"),
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("len_d").cast("bigint").alias("s"),
    ).collect()[0]
    n_docs, sum_len = int(stats.n), int(stats.s)
    tf = (
        toks.join(F.broadcast(qterms), "term")
        .groupBy("query_id", "term", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dfq = toks.groupBy("term").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    term = F.expr(
        _bm25_term_sql(
            "tf", "df", "len_d", f"{n_docs}L", f"{sum_len}L", "DIV"
        )
    )
    sc = (
        tf.join(dl, "doc_id")
        .join(dfq, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(term).cast("bigint").alias("score_q9"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_q9").desc(), F.col("doc_id").asc()
    )
    out = (
        sc.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _BM25_K)
        .select("query_id", "rank", "doc_id", "score_q9")
    )
    return scope_caches(out, toks)


# NFC/NFD-variant + case-variant fixture rows (negative doc_ids, the
# dedup planted-excerpt convention): the synthetic corpus is pure ASCII
# lowercase, so without planted rows the normalization deltas would be
# identically zero and the value gate would check only the identity path.
# Pairs (-1,-2) and (-5,-6) are byte-DIFFERENT raw strings whose NFC+fold
# forms collide — the dedup-recall hole the operator exists to close.
# U+0130 (İ) and other chars where Python/Spark and DuckDB lower() diverge
# are deliberately absent (probed: these strings agree byte-exactly).
_NFC_PLANT = [
    (-1, "Caf\u00e9 \u00c9lan mention"),          # NFC  \u00e9 \u00c9
    (-2, "Cafe\u0301 E\u0301lan mention"),        # NFD variant of -1
    (-3, "The QUICK Brown Fox"),                  # case variant of -4
    (-4, "the quick brown fox"),
    (-5, "A\u030angstro\u0308m U\u0308ber"),     # NFD + uppercase
    (-6, "\u00e5ngstr\u00f6m \u00fcber"),         # NFC folded form of -5
    (-7, "na\u00efve resum\u00e9 unique"),        # non-ASCII singleton
]


def _nfc_values_sql() -> str:
    return ", ".join(f"({i}, '{t}')" for i, t in _NFC_PLANT)


@register(
    "text_normalize_nfc",
    f"""
    WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT * FROM (VALUES {_nfc_values_sql()}) v(doc_id, text)
    ),
    norm AS (
        SELECT doc_id, text, lower(nfc_normalize(text)) AS ntext
        FROM all_docs
    )
    SELECT doc_id,
           (text <> ntext) AS changed,
           CAST(length(ntext) - length(text) AS BIGINT) AS delta_chars,
           md5(ntext) AS fp_norm,
           CAST(COUNT(*) OVER (PARTITION BY md5(ntext)) AS BIGINT) AS n_dups
    FROM norm
    """,
    "text",
    "llm-pipeline",
    "bench",
)
def text_normalize_nfc(spark, sf_dir):
    """Unicode NFC normalization + case folding BEFORE fingerprinting
    (r12 verdict item #6): a multilingual corpus carries NFC/NFD-variant
    and case-variant duplicates that byte-level exact dedup silently
    misses — a classic dedup-recall hole. Per doc: whether normalization
    changed the text, the codepoint-count delta, the normalized
    fingerprint, and how many documents share it (n_dups >= 2 = a
    duplicate class only visible post-normalization for the planted
    variant pairs; tests/test_round13_properties.py holds the property
    witness that the RAW fingerprints of those pairs differ).

    Cross-engine exactness: Python ``unicodedata.normalize("NFC")`` +
    ``str.lower()`` vs DuckDB ``lower(nfc_normalize(...))`` — NFC is
    stability-guaranteed across Unicode versions for assigned codepoints,
    and the simple lowercase mappings agree for everything except a
    handful of locale special cases (U+0130 etc.) kept out of the
    fixture; both engines' ``length`` counts codepoints.

    Scale posture: normalization is row-local inside ONE Arrow-batched
    pandas UDF (no per-row Python); the only exchange is the
    fingerprint-grain window count — the same shuffle any exact-dedup
    pass pays. The planted VALUES side is 7 rows unioned ahead of the
    scan, not joined."""
    import pandas as pd

    d = load(spark, sf_dir, "documents")["documents"].select("doc_id", "text")
    # VALUES LocalRelation, not createDataFrame (zero-task literal — see
    # functions.exprs.local_values)
    planted = local_values(spark, _NFC_PLANT, "doc_id bigint, text string")

    # module has `from __future__ import annotations` (stringified hints
    # break pandas_udf signature inference) — attach real annotation
    # objects and wrap manually, the dedup winnow-kernel convention
    def _nfc_fold(s):
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize("NFC", t).lower()
            if t is not None
            else None
        )

    _nfc_fold.__annotations__ = {"s": pd.Series, "return": pd.Series}
    nfc_fold = F.pandas_udf("string")(_nfc_fold)

    norm = d.unionAll(planted).select(
        "doc_id", "text", nfc_fold("text").alias("ntext")
    )
    w = Window.partitionBy("fp_norm")
    return (
        norm.select(
            "doc_id",
            (F.col("text") != F.col("ntext")).alias("changed"),
            (F.length("ntext") - F.length("text"))
            .cast("bigint")
            .alias("delta_chars"),
            F.md5(F.col("ntext")).alias("fp_norm"),
        )
        .withColumn("n_dups", F.count(F.lit(1)).over(w).cast("bigint"))
    )


@register(
    "text_token_count",
    rf"""
    SELECT doc_id,
           CAST(len({_DUCK_WTOKS}) AS INT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS INT) AS n_bpe_tokens,
           CAST(length(text) AS INT) AS n_chars
    FROM documents
    """,
    "text",
    "bench",
)
def text_token_count(spark, sf_dir):
    d = load(spark, sf_dir, "documents")["documents"]
    return d.select(
        "doc_id",
        F.size(F.expr(_SPARK_WTOKS)).alias("n_ws_tokens"),
        F.size(F.expr(f"regexp_extract_all(text, '{_BPE_RE_SPARK}', 0)")).alias("n_bpe_tokens"),
        F.length("text").cast("int").alias("n_chars"),
    )


_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")
_SW_LIST_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


@register(
    "text_quality_score",
    rf"""
    WITH c AS (
        SELECT doc_id,
               length(text) AS n_chars,
               len({_DUCK_WTOKS}) AS n_words,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
               length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_punct,
               len(list_filter({_DUCK_WTOKS}, t -> t IN ({_SW_LIST_SQL}))) AS n_stop
        FROM documents)
    SELECT doc_id,
           CAST(n_words AS INT) AS n_words,
           CAST(n_alpha AS DOUBLE) / n_chars AS alpha_ratio,
           CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
           CAST(n_stop AS DOUBLE) / n_words AS stop_ratio,
           ROUND(LEAST(CAST(n_words AS DOUBLE) / 64.0, 1.0)
                 * (CAST(n_alpha AS DOUBLE) / n_chars)
                 * (1.0 - CAST(n_punct AS DOUBLE) / n_chars), 6) AS quality
    FROM c WHERE n_words > 0
    """,
    "text",
    "bench",
)
def text_quality_score(spark, sf_dir):
    # NO spread gate here (measured, r16-opt continuation): this is one
    # narrow fused pass with no downstream fanout — the added exchange
    # measured WORSE even at sf1 (0.66 -> 0.79 s interleaved A/B), unlike
    # the multi-consumer/explode batteries that gate at _SPREAD_MIN_BYTES
    d = load(spark, sf_dir, "documents")["documents"]
    c = d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(F.expr(_SPARK_WTOKS)).alias("n_words"),
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).alias("n_alpha"),
        F.length(F.regexp_replace("text", r"[A-Za-z0-9\s]", "")).alias("n_punct"),
        F.size(
            F.expr(f"filter({_SPARK_WTOKS}, t -> t IN ({_SW_LIST_SQL}))")
        ).alias("n_stop"),
    )
    return c.where(F.col("n_words") > 0).select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        (F.col("n_alpha").cast("double") / F.col("n_chars")).alias("alpha_ratio"),
        (F.col("n_punct").cast("double") / F.col("n_chars")).alias("punct_ratio"),
        (F.col("n_stop").cast("double") / F.col("n_words")).alias("stop_ratio"),
        F.round(
            F.least(F.col("n_words").cast("double") / 64.0, F.lit(1.0))
            * (F.col("n_alpha").cast("double") / F.col("n_chars"))
            * (F.lit(1.0) - F.col("n_punct").cast("double") / F.col("n_chars")),
            6,
        ).alias("quality"),
    )


# Small disjoint stopword sets per language; the classifier is an n-gram /
# function-word heuristic: score = matching-token count, argmax with a fixed
# tie-break order (en > de > fr > es).
_LANG_WORDS = {
    "en": ("the", "and", "of", "is", "was"),
    "de": ("der", "die", "und", "ist", "nicht"),
    "fr": ("le", "les", "et", "est", "une"),
    "es": ("el", "los", "y", "es", "una"),
}


def _lang_counts_sql(toks_expr: str, list_filter: str) -> str:
    parts = []
    for lang, words in _LANG_WORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        parts.append(f"len({list_filter}({toks_expr}, t -> t IN ({lst}))) AS n_{lang}")
    return ",\n               ".join(parts)


@register(
    "text_lang_id",
    f"""
    WITH c AS (
        SELECT doc_id, lang,
               {_lang_counts_sql(_DUCK_WTOKS, 'list_filter')}
        FROM documents)
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN n_en >= n_de AND n_en >= n_fr AND n_en >= n_es THEN 'en'
                WHEN n_de >= n_fr AND n_de >= n_es THEN 'de'
                WHEN n_fr >= n_es THEN 'fr'
                ELSE 'es' END AS predicted_lang,
           CAST(n_en AS INT) AS n_en, CAST(n_de AS INT) AS n_de,
           CAST(n_fr AS INT) AS n_fr, CAST(n_es AS INT) AS n_es
    FROM c
    """,
    "text",
)
def text_lang_id(spark, sf_dir):
    d = load(spark, sf_dir, "documents")["documents"]
    counts = [
        F.size(
            F.expr(
                "filter({toks}, t -> t IN ({lst}))".format(
                    toks=_SPARK_WTOKS, lst=", ".join(f"'{w}'" for w in words)
                )
            )
        ).alias(f"n_{lang}")
        for lang, words in _LANG_WORDS.items()
    ]
    c = d.select("doc_id", F.col("lang").alias("labeled_lang"), *counts)
    predicted = (
        F.when(
            (F.col("n_en") >= F.col("n_de"))
            & (F.col("n_en") >= F.col("n_fr"))
            & (F.col("n_en") >= F.col("n_es")),
            "en",
        )
        .when((F.col("n_de") >= F.col("n_fr")) & (F.col("n_de") >= F.col("n_es")), "de")
        .when(F.col("n_fr") >= F.col("n_es"), "fr")
        .otherwise("es")
    )
    return c.select(
        "doc_id",
        "labeled_lang",
        predicted.alias("predicted_lang"),
        F.col("n_en").cast("int").alias("n_en"),
        F.col("n_de").cast("int").alias("n_de"),
        F.col("n_fr").cast("int").alias("n_fr"),
        F.col("n_es").cast("int").alias("n_es"),
    )


@register(
    "text_vocab_stats",
    rf"""
    WITH tok AS (
        SELECT unnest({_DUCK_WTOKS}) AS token FROM documents),
    counts AS (
        SELECT token, COUNT(*) AS freq FROM tok WHERE token <> '' GROUP BY token)
    SELECT token, freq, CAST(rnk AS INT) AS rnk FROM (
        SELECT token, freq, ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rnk
        FROM counts) t
    WHERE rnk <= 100
    """,
    "text",
    "bench",
)
def text_vocab_stats(spark, sf_dir):
    """Corpus vocabulary top-k (the canonical distributed wordcount):
    tokenize → explode → groupBy token with map-side partial counts → global
    top 100. The single groupBy shuffle carries (token, partial count), not
    documents, so this scales linearly with corpus size.

    The top-k is orderBy().limit(100), which Spark compiles to
    TakeOrderedAndProject (per-partition bounded heap + driver merge of
    100×parts rows) — NOT a global row_number window, which would move the
    entire distinct-token table (billions of rows at corpus scale) to a
    single partition. The rank window below runs over the already-limited
    100-row result only.
    """
    from pyspark.sql import Window

    d = spread(
        spark,
        load(spark, sf_dir, "documents")["documents"],
        sf_dir,
        "documents",
        "doc_id",
        min_bytes=_SPREAD_MIN_BYTES,
    )
    # materialization barrier before explode (Generate re-evaluates fused
    # generator inputs per output row — see operators/dedup.py)
    toks = d.select(F.expr(_SPARK_WTOKS).alias("toks")).persist()
    top = (
        toks.select(F.explode("toks").alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), "token")
        .limit(100)
    )
    w = Window.orderBy(F.col("freq").desc(), "token")
    return scope_caches(
        top.withColumn("rnk", F.row_number().over(w))
        .select("token", "freq", F.col("rnk").cast("int").alias("rnk")),
        toks,
    )


# Winnowing fingerprints: k-gram (k=5) rolling hashes, sliding window (w=4)
# minima, distinct fingerprints per document. Standard winnowing as in
# Schleimer/Wilkerson/Aiken (SIGMOD'03) — public algorithm.
_K, _W = 5, 4
_SPARK_KGRAM_HASHES = (
    f"transform(sequence(1, length(text) - {_K - 1}),"
    f" i -> cast(conv(substr(md5(substr(text, i, {_K})), 1, 8), 16, 10) as bigint))"
)
_DUCK_KGRAM_HASHES = (
    f"list_transform(generate_series(1, length(text) - {_K - 1}),"
    f" i -> ('0x' || substr(md5(substr(text, i, {_K})), 1, 8))::BIGINT)"
)
_SPARK_WINNOW = (
    f"array_distinct(transform(sequence(1, size(h) - {_W - 1}),"
    " i -> array_min(slice(h, i, %d))))" % _W
)
_DUCK_WINNOW = (
    f"list_distinct(list_transform(generate_series(1, len(h) - {_W - 1}),"
    f" i -> list_aggregate(h[i:i + {_W - 1}], 'min')))"
)


@register(
    "text_fingerprint_winnow",
    f"""
    WITH h AS (SELECT doc_id, {_DUCK_KGRAM_HASHES} AS h
               FROM documents WHERE length(text) >= {_K + _W}),
         w AS (SELECT doc_id, {_DUCK_WINNOW} AS fps FROM h)
    SELECT doc_id, CAST(len(fps) AS INT) AS n_fingerprints,
           list_aggregate(fps, 'min') AS min_fp
    FROM w
    """,
    "text",
)
def text_fingerprint_winnow(spark, sf_dir):
    d = load(spark, sf_dir, "documents")["documents"]
    # persist the k-gram hash arrays: the winnow lambda slices `h` per window
    # index, and without a barrier CollapseProject would inline (and re-run)
    # the md5 array construction once per window. Gate-spread first: the
    # per-char hashing is the query's dominant CPU and the single-row-group
    # source would pin it to one core (partitioning.spread).
    h = (
        spread(spark, d, sf_dir, "documents", "doc_id")
        .where(F.length("text") >= _K + _W)
        .select("doc_id", F.expr(_SPARK_KGRAM_HASHES).alias("h"))
        .persist()
    )
    w = h.select("doc_id", F.expr(_SPARK_WINNOW).alias("fps"))
    return scope_caches(
        w.select(
            "doc_id",
            F.size("fps").alias("n_fingerprints"),
            F.array_min("fps").alias("min_fp"),
        ),
        h,
    )


@register(
    "text_tfidf_top_terms",
    f"""
    WITH tok AS (
        SELECT doc_id, unnest({_DUCK_WTOKS}) AS token FROM documents),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tok
        WHERE token != '' GROUP BY doc_id, token),
    df AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok
        WHERE token != '' GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.token,
               tf.tf * (CAST(n.n_docs + 1 AS DOUBLE) / (df.df + 1)) AS tfidf
        FROM tf JOIN df USING (token) CROSS JOIN n)
    SELECT doc_id, token, ROUND(tfidf, 6) AS tfidf, rnk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY tfidf DESC, token) AS INT) AS rnk
        FROM scored) t
    WHERE rnk <= 3
    """,
    "text",
    "bench",
)
def text_tfidf_top_terms(spark, sf_dir):
    """Top-3 characteristic terms per document by TF-IDF — the keyword/
    topic-signal extractor of a curation pipeline. idf is the RAW ratio
    (N+1)/(df+1) rather than its logarithm: ranking is identical
    (log is monotone) and integer-ratio arithmetic is bit-identical across
    engines, while Math.log vs libm log can differ in the last ulp.

    Shape: two aggregations over the exploded token stream — tf by
    (doc, token), df by token with map-side partial distinct — then a
    token-keyed join (df is vocabulary-sized, broadcastable after a
    frequency cutoff) and a per-doc top-k window. The corpus count joins
    in as a broadcast literal, never a driver-side collect into the plan.
    """
    d = spread(
        spark,
        load(spark, sf_dir, "documents")["documents"],
        sf_dir,
        "documents",
        "doc_id",
        min_bytes=_SPREAD_MIN_BYTES,
    )
    # materialization barrier before explode (Generate re-evaluates fused
    # generator inputs per output row — see operators/dedup.py)
    toks = d.select("doc_id", F.expr(_SPARK_WTOKS).alias("toks")).persist()
    tok = toks.select("doc_id", F.explode("toks").alias("token")).where(
        F.col("token") != ""
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            (
                F.col("tf")
                * ((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return scope_caches(
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "token",
            F.round("tfidf", 6).alias("tfidf"),
            F.col("rnk").cast("int").alias("rnk"),
        ),
        toks,
    )


# Fixed-weight linear quality model: the shape of fastText/logistic-reg
# quality filtering without a training dependency — weights are constants,
# features are exact integer-derived ratios, the score is one dot product
# of doubles (identical expression order in both engines, so bit-exact).
# No sigmoid: exp() is a libm call whose last-ulp behavior differs across
# engines; a monotone transform does not change the keep decision anyway.
_QM_W = (0.8, -1.2, 2.0, -0.5)  # (len_score, punct_ratio, stop_ratio, upper_ratio)
_QM_KEEP = 0.55


@register(
    "quality_model_filter",
    f"""
    WITH f AS (
        SELECT doc_id,
               LEAST(CAST(length(text) AS DOUBLE) / 1000.0, 1.0) AS len_score,
               CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
                   / (length(text) + 1) AS punct_ratio,
               CAST(len(list_filter({_DUCK_WTOKS}, t -> t IN ({_SW_LIST_SQL}))) AS DOUBLE)
                   / (len({_DUCK_WTOKS}) + 1) AS stop_ratio,
               CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
                   / (length(text) + 1) AS upper_ratio
        FROM documents)
    SELECT doc_id,
           {_QM_W[0]} * len_score + {_QM_W[1]} * punct_ratio
               + {_QM_W[2]} * stop_ratio + {_QM_W[3]} * upper_ratio AS model_score,
           ({_QM_W[0]} * len_score + {_QM_W[1]} * punct_ratio
               + {_QM_W[2]} * stop_ratio + {_QM_W[3]} * upper_ratio) >= {_QM_KEEP}
               AS keep
    FROM f
    """,
    "text",
    "curation",
)
def quality_model_filter(spark, sf_dir):
    """Model-based corpus filtering with a fixed-weight linear scorer —
    the fastText-classifier shape (featurize → dot product → threshold)
    that production pipelines run after the heuristic filters, minus the
    training dependency: weights are checked-in constants, so the filter
    is reproducible and auditable. Features are exact ratios of integer
    counts; the score is a single double dot product evaluated in the
    same order in both engines (no sigmoid — exp() is a libm call whose
    last bits differ across engines, and a monotone transform can't
    change the keep decision). Row-local: zero shuffles at any scale;
    swapping in learned weights is a one-line change."""
    d = load(spark, sf_dir, "documents")["documents"]
    len_score = F.least(F.length("text").cast("double") / 1000.0, F.lit(1.0))
    punct_ratio = (
        F.length("text")
        - F.length(F.regexp_replace("text", r"[\p{Punct}]", ""))
    ).cast("double") / (F.length("text") + 1)
    stop_ratio = F.expr(
        f"cast(size(filter({_SPARK_WTOKS}, t -> t IN ({_SW_LIST_SQL}))) as double)"
        f" / (size({_SPARK_WTOKS}) + 1)"
    )
    upper_ratio = F.length(
        F.regexp_replace("text", r"[^A-Z]", "")
    ).cast("double") / (F.length("text") + 1)
    score = (
        F.lit(_QM_W[0]) * len_score
        + F.lit(_QM_W[1]) * punct_ratio
        + F.lit(_QM_W[2]) * stop_ratio
        + F.lit(_QM_W[3]) * upper_ratio
    )
    return d.select(
        "doc_id",
        score.alias("model_score"),
        (score >= F.lit(_QM_KEEP)).alias("keep"),
    )


@register(
    "source_similarity_jaccard",
    f"""
    WITH vocab AS (
        SELECT DISTINCT source, unnest({_DUCK_WTOKS}) AS token FROM documents),
    sizes AS (SELECT source, COUNT(*) AS n FROM vocab GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
        FROM vocab a JOIN vocab b
          ON a.token = b.token AND a.source < b.source
        GROUP BY a.source, b.source)
    SELECT src_a, src_b, n_common,
           CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jacc
    FROM inter JOIN sizes sa ON inter.src_a = sa.source
               JOIN sizes sb ON inter.src_b = sb.source
    """,
    "text",
)
def source_similarity_jaccard(spark, sf_dir):
    """Source-level vocabulary overlap matrix: exact Jaccard of each source
    pair's distinct-token sets — the corpus-analytics view a domain-mixing
    decision starts from (two sources with jacc≈1 are the same crawl under
    two names; near-0 means genuinely new vocabulary).

    100 TB shape: the self-join runs on the DISTINCT (source, token) vocab
    table, not the corpus — vocabulary is bounded by the language
    (~10^6-10^7 types), not the corpus size, and a token contributes at
    most #sources² pair rows, so the join output is ≤ vocab ×
    #sources²/2 regardless of how many petabytes produced the vocab.
    Counts are exact integers; the one double division is identical on
    both engines."""
    d = load(spark, sf_dir, "documents")["documents"]
    vocab = (
        d.select("source", F.explode(F.expr(_SPARK_WTOKS)).alias("token"))
        .distinct()
        .persist()
    )
    sizes = vocab.groupBy("source").agg(F.count("*").alias("n"))
    a = vocab.select(F.col("source").alias("src_a"), "token")
    b = vocab.select(F.col("source").alias("src_b"), "token")
    inter = (
        a.join(b, "token")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return scope_caches(
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            ).alias("jacc"),
        ),
        vocab,
    )


#: reference-vocabulary size for OOV-rate scoring
_OOV_TOPK = 256


@register(
    "oov_rate_against_top_vocab",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_DUCK_WTOKS}) AS token FROM documents),
    vocab AS (
        SELECT token FROM (
            SELECT token, COUNT(*) AS c FROM toks GROUP BY token
            ORDER BY c DESC, token LIMIT {_OOV_TOPK})),
    scored AS (
        SELECT t.doc_id,
               COUNT(*) AS n_toks,
               COUNT(*) FILTER (WHERE v.token IS NULL) AS n_oov
        FROM toks t LEFT JOIN vocab v ON t.token = v.token
        GROUP BY t.doc_id)
    SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
           CAST(n_oov AS BIGINT) AS n_oov,
           CAST(n_oov AS DOUBLE) / n_toks AS oov_rate
    FROM scored
    """,
    "text",
)
def oov_rate_against_top_vocab(spark, sf_dir):
    """Out-of-vocabulary rate per document against the corpus' own top-256
    token vocabulary — the cheap proxy for "how much of this document will
    a fixed tokenizer fragment": high-OOV documents are boilerplate, code,
    or foreign-language content a text pipeline wants flagged before
    tokenization.

    Shape: the reference vocabulary is a top-k over global token counts
    (TakeOrderedAndProject: per-partition heaps + driver merge of k rows,
    never a full sort), then BROADCAST against the token stream — the
    corpus never shuffles for scoring; the only corpus-sized aggregate is
    the per-doc count pair. Tie-breaking on (count DESC, token) makes the
    vocabulary deterministic in both engines."""
    d = load(spark, sf_dir, "documents")["documents"]
    toks = d.select(
        "doc_id", F.explode(F.expr(_SPARK_WTOKS)).alias("token")
    ).persist()
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "token")
        .limit(_OOV_TOPK)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    scored = (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.count_if(F.col("in_vocab").isNull()).alias("n_oov"),
        )
    )
    return scope_caches(
        scored.select(
            "doc_id",
            "n_toks",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_toks")).alias("oov_rate"),
        ),
        toks,
    )


# Bigram pairs carried as (w1, bigram) structs so the conditional-count
# join key and the history key come out of one zip_with pass.
_SPARK_BIGRAMS = (
    "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1), "
    "(x, y) -> struct(x AS w1, concat(x, ' ', y) AS bg))"
)
_DUCK_BIGRAMS = (
    "list_transform(generate_series(1, len(toks) - 1), "
    "i -> {'w1': toks[i], 'bg': toks[i] || ' ' || toks[i + 1]})"
)


@register(
    "lm_bigram_score",
    f"""
    WITH toks AS (
        SELECT doc_id, {_DUCK_WTOKS} AS toks FROM documents),
    big AS (
        SELECT doc_id, p.w1 AS w1, p.bg AS bg
        FROM (SELECT doc_id, unnest({_DUCK_BIGRAMS}) AS p
              FROM toks WHERE len(toks) >= 2)),
    c12 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12 FROM big GROUP BY bg),
    c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM big GROUP BY w1)
    SELECT big.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(FLOOR(1e9 * (CAST(c12.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE))) AS BIGINT)) AS BIGINT) AS lm_score_q9
    FROM big JOIN c12 USING (bg) JOIN c1 USING (w1)
    GROUP BY big.doc_id
    """,
    "text",
    "llm-pipeline",
    "bench",
)
def lm_bigram_score(spark, sf_dir):
    """Statistical language-model quality scoring (the CCNet-style filter):
    train a bigram model ON the corpus itself, then score every document by
    its average conditional bigram probability p(w2|w1) = c(w1 w2)/c(w1).
    Low scores flag gibberish, boilerplate, and non-linguistic content; the
    downstream filter keeps the head of the score distribution.

    Cross-engine determinism: each probability is ONE IEEE double division
    of two exact BIGINT counts, quantized with floor(1e9 * p) before the
    integer sum — no float accumulation order anywhere, so DuckDB
    reproduces the score bit-exactly (consumers divide by n_bigrams for
    the average).

    Scale posture: bigram extraction is row-local (zip_with structs, no
    Python); the model tables (c12/c1) are vocabulary-sized aggregates
    with map-side partial aggregation; scoring joins shuffle the
    occurrence stream on (bg) then (w1) — the standard LM-scoring shape.
    Natural-language token frequency is Zipfian, so the (w1) join key is
    SKEWED at corpus scale: AQE skew-join splitting handles moderate skew
    (asserted enabled in tests), and operators.skew has the two-phase
    salting kit if a corpus needs it."""
    d = spread(
        spark,
        load(spark, sf_dir, "documents")["documents"],
        sf_dir,
        "documents",
        "doc_id",
        min_bytes=_SPREAD_MIN_BYTES,
    )
    big = (
        d.select("doc_id", F.expr(_SPARK_WTOKS).alias("toks"))
        .where(F.expr("size(toks)") >= 2)
        .select("doc_id", F.explode(F.expr(_SPARK_BIGRAMS)).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.bg").alias("bg"))
        .persist()
    )
    c12 = big.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    scored = (
        big.join(c12, "bg")
        .join(c1, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.expr(
                    "CAST(FLOOR(1e9 * (CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE))) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("lm_score_q9"),
        )
    )
    return scope_caches(scored, big)


# BPE merge table (creation-order monotone: every pair that contains a
# merged symbol appears after the merges that build its components, which
# is exactly the structure trained merge lists have — and what makes the
# leftmost-best-pair-per-step recursion below equal to standard
# merge-all-occurrences BPE).
_BPE_MERGES = [
    "t h", "i n", "a n", "r e", "o n", "e r", "e n", "s t",
    "o r", "a r", "a l", "e d", "i t", "e s", "o u", "th e",
    "an d", "in g", "i s", "a t", "o f", "er s", "th at", "the re",
]
_BPE_BIG = 999999
_BPE_MAXLEN = 32
_SPARK_BPE_MERGES = "array(" + ", ".join(f"'{m}'" for m in _BPE_MERGES) + ")"
_DUCK_BPE_MERGES = "[" + ", ".join(f"'{m}'" for m in _BPE_MERGES) + "]"


def _duck_bpe_recursion() -> str:
    """The vocab -> bpe -> finals recursive-CTE chain (DuckDB dialect),
    shared by bpe_tokenize_counts and tokenizer_fertility_stats. The
    recursion runs over the DISTINCT-WORD vocabulary; see
    bpe_tokenize_counts' docstring for the algebra and the
    array_position-returns-0 trap."""
    return f"""vocab AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n_occ FROM (
            SELECT unnest({_DUCK_WTOKS}) AS w FROM documents)
        WHERE length(w) <= {_BPE_MAXLEN}
        GROUP BY w),
    bpe (w, s, iter) AS (
        SELECT w, regexp_extract_all(w, '.') AS s, 0 FROM vocab
        UNION ALL
        SELECT w,
               list_concat(list_concat(
                   s[1 : idx - 1],
                   [replace(pairs[idx], ' ', '')]),
                   s[idx + 2 : len(s)]) AS s,
               iter + 1
        FROM (
            SELECT w, s, iter, pairs,
                   CAST(list_position(ranks, list_min(ranks)) AS INT) AS idx,
                   list_min(ranks) AS best
            FROM (
                SELECT w, s, iter,
                       list_transform(generate_series(1, len(s) - 1),
                                      i -> s[i] || ' ' || s[i + 1]) AS pairs,
                       list_transform(generate_series(1, len(s) - 1),
                                      i -> coalesce(nullif(list_position({_DUCK_BPE_MERGES},
                                                    s[i] || ' ' || s[i + 1]), 0), {_BPE_BIG})) AS ranks
                FROM bpe)
        ) WHERE best < {_BPE_BIG}),
    finals AS (
        SELECT w, s FROM (
            SELECT w, s, iter, MAX(iter) OVER (PARTITION BY w) AS mx FROM bpe)
        WHERE iter = mx)"""


def _spark_bpe_recursion() -> str:
    """Spark-dialect twin of :func:`_duck_bpe_recursion` (reads the
    ``bpe_docs_src`` temp view)."""
    return f"""vocab AS (
            SELECT w, COUNT(*) AS n_occ FROM (
                SELECT explode({_SPARK_WTOKS}) AS w FROM bpe_docs_src)
            WHERE length(w) <= {_BPE_MAXLEN}
            GROUP BY w),
        bpe (w, s, iter) AS (
            SELECT w, regexp_extract_all(w, '(.)', 1) AS s, 0 FROM vocab
            UNION ALL
            SELECT w,
                   concat(
                       slice(s, 1, idx - 1),
                       array(replace(element_at(pairs, idx), ' ', '')),
                       slice(s, idx + 2, size(s))) AS s,
                   iter + 1
            FROM (
                SELECT w, s, iter, pairs,
                       CAST(array_position(ranks, array_min(ranks)) AS INT) AS idx,
                       array_min(ranks) AS best
                FROM (
                    SELECT w, s, iter,
                           zip_with(slice(s, 1, size(s) - 1), slice(s, 2, size(s) - 1),
                                    (a, b) -> concat(a, ' ', b)) AS pairs,
                           zip_with(slice(s, 1, size(s) - 1), slice(s, 2, size(s) - 1),
                                    (a, b) -> coalesce(nullif(array_position({_SPARK_BPE_MERGES},
                                                             concat(a, ' ', b)), 0), {_BPE_BIG})) AS ranks
                    FROM bpe)
            ) WHERE best < {_BPE_BIG}),
        finals AS (
            SELECT w, s FROM (
                SELECT w, s, iter, MAX(iter) OVER (PARTITION BY w) AS mx FROM bpe)
            WHERE iter = mx)"""


@register(
    "bpe_tokenize_counts",
    f"""
    WITH RECURSIVE {_duck_bpe_recursion()}
    SELECT token, CAST(SUM(n_occ) AS BIGINT) AS cnt
    FROM (SELECT v.n_occ, unnest(f.s) AS token
          FROM finals f JOIN vocab v USING (w))
    GROUP BY token
    """,
    "text",
    "llm-pipeline",
    "bench",
)
def bpe_tokenize_counts(spark, sf_dir):
    """REAL BPE tokenization of the corpus, expressed as a recursive CTE —
    subword token counts under a fixed 24-entry merge table.

    Algorithm: each word's symbol array repeatedly merges the leftmost
    occurrence of its best-ranked adjacent pair until no listed pair
    remains (per-step state is pure array algebra: zip-adjacent pairs →
    rank lookup → slice/concat splice). Because the merge table is
    creation-order monotone — the invariant trained BPE merge lists have —
    this leftmost-best-pair-per-step recursion produces exactly the
    standard merge-all-occurrences BPE segmentation.

    Scale posture: the recursion runs over the DISTINCT-WORD VOCABULARY
    (with per-word occurrence counts aggregated first), never the token
    stream — the iteration's working set is vocabulary-sized and shrinks
    every round as words reach their fixpoint; corpus-sized work is one
    tokenize/count pass and one final vocab join. Words longer than
    _BPE_MAXLEN chars are excluded on both sides (bounds recursion depth
    under Spark's recursion level cap).

    Engine trap worth recording: BOTH Spark's array_position and this
    DuckDB build's list_position return 0 (not NULL) for a missing
    element, so the rank lookup needs nullif(.., 0) before coalesce on
    both sides — without it every unlisted pair silently ranks 0
    (= best-possible!) and every word merges all the way to one token.
    """
    d = spread(
        spark,
        load(spark, sf_dir, "documents")["documents"],
        sf_dir,
        "documents",
        "doc_id",
        min_bytes=_SPREAD_MIN_BYTES,
    )
    d.createOrReplaceTempView("bpe_docs_src")
    return spark.sql(
        f"""
        WITH RECURSIVE {_spark_bpe_recursion()}
        SELECT token, CAST(SUM(n_occ) AS BIGINT) AS cnt
        FROM (SELECT v.n_occ, explode(f.s) AS token
              FROM finals f JOIN vocab v USING (w))
        GROUP BY token
        """
    )


@register(
    "tokenizer_fertility_stats",
    f"""
    WITH RECURSIVE {_duck_bpe_recursion()},
    srcw AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS n FROM (
            SELECT source, unnest({_DUCK_WTOKS}) AS w FROM documents)
        WHERE length(w) <= {_BPE_MAXLEN}
        GROUP BY source, w)
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_words,
           CAST(SUM(n * len(f.s)) AS BIGINT) AS n_subwords,
           CAST(SUM(n * length(srcw.w)) AS BIGINT) AS n_chars,
           CAST(CAST(SUM(n * len(f.s)) AS BIGINT) AS DOUBLE)
               / CAST(SUM(n) AS BIGINT) AS fertility,
           CAST(CAST(SUM(n * length(srcw.w)) AS BIGINT) AS DOUBLE)
               / CAST(SUM(n * len(f.s)) AS BIGINT) AS chars_per_token
    FROM srcw JOIN finals f USING (w)
    GROUP BY source
    """,
    "text",
    "llm-pipeline",
)
def tokenizer_fertility_stats(spark, sf_dir):
    """Tokenizer fertility audit per source domain: words, subword tokens
    under the fixed BPE merge table, characters, tokens-per-word
    (fertility) and characters-per-token. The standard tokenizer-fit
    diagnostic — a domain whose fertility is far above the corpus mean is
    under-served by the merge table (costs more sequence length per word)
    and argues for retraining or domain-specific vocab.

    Scale posture: the BPE recursion runs ONCE over the distinct-word
    vocabulary (shared CTE with bpe_tokenize_counts — never the token
    stream); per-(source, word) counts are one corpus aggregation; the
    final join is vocabulary-sized on both sides. Ratios are single
    divisions of exact BIGINT sums."""
    d = spread(
        spark,
        load(spark, sf_dir, "documents")["documents"],
        sf_dir,
        "documents",
        "doc_id",
        min_bytes=_SPREAD_MIN_BYTES,
    )
    d.createOrReplaceTempView("bpe_docs_src")
    return spark.sql(
        f"""
        WITH RECURSIVE {_spark_bpe_recursion()},
        srcw AS (
            SELECT source, w, CAST(COUNT(*) AS BIGINT) AS n FROM (
                SELECT source, explode({_SPARK_WTOKS}) AS w FROM bpe_docs_src)
            WHERE length(w) <= {_BPE_MAXLEN}
            GROUP BY source, w)
        SELECT source,
               CAST(SUM(n) AS BIGINT) AS n_words,
               CAST(SUM(n * size(f.s)) AS BIGINT) AS n_subwords,
               CAST(SUM(n * length(srcw.w)) AS BIGINT) AS n_chars,
               CAST(CAST(SUM(n * size(f.s)) AS BIGINT) AS DOUBLE)
                   / CAST(SUM(n) AS BIGINT) AS fertility,
               CAST(CAST(SUM(n * length(srcw.w)) AS BIGINT) AS DOUBLE)
                   / CAST(SUM(n * size(f.s)) AS BIGINT) AS chars_per_token
        FROM srcw JOIN finals f USING (w)
        GROUP BY source
        """
    )


# --- BPE tokenizer TRAINING ------------------------------------------------
# Learn the first _BPE_TRAIN_K merges from the corpus itself: per round,
# count weighted adjacent symbol pairs over the vocabulary, take the argmax
# (count DESC, pair ASC — deterministic), and merge ALL its occurrences in
# every word. Merge-all-occurrences without a sequential fold: wrap each
# symbol in chr(1) tags (s1§§s2§§s3 with § = chr(1)) and string-replace the
# tagged pair left-to-right — non-overlapping replacement IS the BPE merge
# order, and a consumed middle symbol can't pair twice. Vocabulary is
# pre-tokenized to ^[a-z0-9]+$ (the GPT-2-style pretokenizer guarantee that
# the tag byte cannot occur inside a symbol).
_BPE_TRAIN_K = 8
_BPE_WORD_RE = "^[a-z0-9]+$"
#: checkpoint cadence for the training loop (see the in-loop comment)
_BPE_CKPT = 4


def _duck_bpe_train_sql(k: int) -> str:
    base = f"""v0 AS MATERIALIZED (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n_occ, regexp_extract_all(w, '.') AS s
        FROM (SELECT unnest({_DUCK_WTOKS}) AS w FROM documents)
        WHERE regexp_matches(w, '{_BPE_WORD_RE}') AND length(w) <= {_BPE_MAXLEN}
        GROUP BY w)"""
    stages = [base]
    for i in range(1, k + 1):
        stages.append(f"""b{i} AS MATERIALIZED (
        SELECT p, cnt FROM (
            SELECT p, CAST(SUM(n_occ) AS BIGINT) AS cnt FROM (
                SELECT n_occ,
                       unnest(list_transform(generate_series(1, len(s) - 1),
                              j -> s[j] || ' ' || s[j + 1])) AS p
                FROM v{i - 1})
            GROUP BY p)
        ORDER BY cnt DESC, p ASC LIMIT 1)""")
        stages.append(f"""v{i} AS MATERIALIZED (
        SELECT w, n_occ,
               string_split(
                   trim(
                       replace(
                           chr(1) || array_to_string(s, chr(1) || chr(1)) || chr(1),
                           chr(1) || replace(coalesce((SELECT p FROM b{i}), chr(2)),
                                             ' ', chr(1) || chr(1)) || chr(1),
                           chr(1) || replace(coalesce((SELECT p FROM b{i}), chr(2)),
                                             ' ', '') || chr(1)),
                       chr(1)),
                   chr(1) || chr(1)) AS s
        FROM v{i - 1})""")
    finals = " UNION ALL ".join(
        f"SELECT {i} AS rank, (SELECT p FROM b{i}) AS pair, (SELECT cnt FROM b{i}) AS cnt"
        for i in range(1, k + 1)
    )
    return (
        "WITH " + ",\n".join(stages)
        + f"\nSELECT CAST(rank AS INT) AS rank, pair, cnt FROM ({finals}) WHERE pair IS NOT NULL"
    )


@register(
    "bpe_train_merges",
    _duck_bpe_train_sql(_BPE_TRAIN_K),
    "text",
    "llm-pipeline",
    "bench",
)
def bpe_train_merges(spark, sf_dir):
    """Distributed BPE tokenizer TRAINING: learn the first K merges from
    the corpus (the inner loop of training a real tokenizer vocabulary).

    Per round: one weighted pair-count aggregation over the vocabulary,
    a deterministic argmax (count DESC, pair ASC), then merge-all-
    occurrences applied to every word via the tagged-string replace (see
    module comment) — no Python in the data path; the driver only
    collects the single argmax row per round, which is what makes
    iterative training tractable at corpus scale (the per-round working
    set is the vocabulary with counts, never the token stream; the corpus
    is read once to build it). Vocab is localCheckpoint-ed per round so
    the logical plan stays flat across iterations (the dedup_components
    discipline). The DuckDB oracle is the same K rounds unrolled into a
    CTE chain — bit-exact, including tie-breaks."""
    T = "\x01"
    d = spread(
        spark,
        load(spark, sf_dir, "documents")["documents"],
        sf_dir,
        "documents",
        "doc_id",
        min_bytes=_SPREAD_MIN_BYTES,
    )
    vocab = (
        d.select(F.explode(F.expr(_SPARK_WTOKS)).alias("w"))
        .where(F.col("w").rlike(_BPE_WORD_RE) & (F.length("w") <= _BPE_MAXLEN))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .select("w", "n_occ", F.expr("regexp_extract_all(w, '(.)', 1)").alias("s"))
        .localCheckpoint()
    )
    learned = []
    for rank in range(1, _BPE_TRAIN_K + 1):
        best = (
            vocab.select(
                "n_occ",
                F.explode(
                    F.expr(
                        "zip_with(slice(s, 1, size(s) - 1), slice(s, 2, size(s) - 1), "
                        "(a, b) -> concat(a, ' ', b))"
                    )
                ).alias("p"),
            )
            .groupBy("p")
            .agg(F.sum("n_occ").cast("bigint").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("p").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, cnt = best[0]["p"], best[0]["cnt"]
        learned.append((rank, pair, cnt))
        a, b = pair.split(" ")
        vocab = vocab.withColumn(
            "s",
            F.split(
                F.btrim(
                    F.replace(
                        F.concat(F.lit(T), F.array_join("s", T + T), F.lit(T)),
                        F.lit(T + a + T + T + b + T),
                        F.lit(T + a + b + T),
                    ),
                    F.lit(T),
                ),
                T + T,
            ),
        )
        # Checkpoint every _BPE_CKPT rounds, not every round (r16-opt,
        # guide §1.2 per-task work after shape): unlike the iterative
        # join kernels (whose plans DOUBLE per round), each merge adds
        # ONE narrow withColumn, so letting the next argmax re-apply up
        # to _BPE_CKPT-1 merge maps over the vocab costs far less than
        # an extra materialization job per round — the per-round job
        # count drops from 2 to ~1.25. The merge-map reapplication is
        # bounded (O(K * C) total map passes over the vocab frame, all
        # pipelined into the argmax stage).
        if rank % _BPE_CKPT == 0 and rank < _BPE_TRAIN_K:
            vocab = vocab.localCheckpoint()
    # VALUES LocalRelation, not createDataFrame: the learned-merge table is
    # the query RESULT, and the RDD-parallelized form cost one 32-task
    # ghost scan per consuming action (functions.exprs.local_values)
    return local_values(spark, learned, "rank int, pair string, cnt bigint")


# --- Unigram (SentencePiece-style) Viterbi tokenization ---------------------
# The second major tokenizer family next to BPE: segment each word into the
# best-scoring sequence of vocabulary pieces via dynamic programming. The
# classic unigram LM maximizes sum-of-log-probs; logs are libm-dependent and
# can never be cross-engine bit-exact, so the objective here is the integer
# lexicographic surrogate (fewest pieces, then most-frequent pieces):
#   cost(piece) = M - freq(piece),  M > any achievable sum of frequencies,
# which a Viterbi DP minimizes exactly — the argmax segmentation of a
# frequency-calibrated unigram model under coarse quantization, with every
# comparison in BIGINT arithmetic.
_UNI_L = 16  # max word length (chars); corpus vocab words are <= 8
_UNI_K = 4  # max piece length
_UNI_P = 48  # multi-char piece budget (top-P by freq DESC, piece ASC)
_UNI_M = 1 << 40  # per-piece base cost; dominates any freq sum
_UNI_INF = 1 << 50  # "no piece / out of range" sentinel


def _duck_unigram_sql() -> str:
    """Unrolled DuckDB twin of the Spark HOF-fold Viterbi (DuckDB's
    list_reduce is a first-element reduce, not a seeded fold, so the DP
    and the backtrace are unrolled into _UNI_L materialized stages)."""
    L, K, P, M, INF = _UNI_L, _UNI_K, _UNI_P, _UNI_M, _UNI_INF
    stages = [
        f"""vocab AS MATERIALIZED (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n_occ, length(w) AS len
        FROM (SELECT unnest({_DUCK_WTOKS}) AS w FROM documents)
        WHERE regexp_matches(w, '{_BPE_WORD_RE}') AND length(w) <= {L}
        GROUP BY w)""",
        f"""grid AS (
        SELECT i, k FROM (SELECT unnest(generate_series(1, {L})) AS i),
                         (SELECT unnest(generate_series(1, {K})) AS k))""",
        f"""piece_occ AS MATERIALIZED (
        SELECT piece, CAST(SUM(n_occ) AS BIGINT) AS freq
        FROM (SELECT v.n_occ, substr(v.w, g.i, g.k) AS piece
              FROM vocab v, grid g
              WHERE g.i + g.k - 1 <= v.len)
        GROUP BY piece)""",
        f"""pieces AS MATERIALIZED (
        SELECT piece, freq FROM (
            SELECT piece, freq FROM piece_occ WHERE length(piece) >= 2
            ORDER BY freq DESC, piece LIMIT {P})
        UNION ALL
        SELECT piece, freq FROM piece_occ WHERE length(piece) = 1)""",
        f"""wcost AS MATERIALIZED (
        SELECT v.w, v.n_occ, v.len,
               list_transform(
                   array_agg({{'j': (g.i - 1) * {K} + g.k,
                               'c': CASE WHEN g.i + g.k - 1 <= v.len
                                          AND p.freq IS NOT NULL
                                         THEN {M} - p.freq
                                         ELSE {INF} END}}
                             ORDER BY (g.i - 1) * {K} + g.k),
                   e -> e.c) AS pc
        FROM vocab v
        CROSS JOIN grid g
        LEFT JOIN pieces p
               ON g.i + g.k - 1 <= v.len AND substr(v.w, g.i, g.k) = p.piece
        GROUP BY v.w, v.n_occ, v.len)""",
        "d0 AS (SELECT w, n_occ, len, pc, [CAST(0 AS BIGINT)] AS best"
        " FROM wcost)",
    ]
    for i in range(1, L + 1):
        terms = ", ".join(
            f"CASE WHEN {i} >= {k} THEN best[{i - k + 1}]"
            f" + pc[{(i - k) * K + k}] ELSE {INF} END"
            for k in range(1, K + 1)
        )
        stages.append(
            f"d{i} AS (SELECT w, n_occ, len, pc, best ||"
            f" [CASE WHEN {i} <= len THEN least({terms})"
            f" ELSE CAST(0 AS BIGINT) END] AS best FROM d{i - 1})"
        )
    argmin_terms = ", ".join(
        f"CASE WHEN i >= {k} THEN best[i - {k} + 1]"
        f" + pc[(i - {k}) * {K} + {k}] ELSE {INF} END"
        for k in range(1, K + 1)
    )
    stages.append(
        f"""bpt AS MATERIALIZED (
        SELECT w, n_occ, len,
               list_transform(generate_series(1, len), i ->
                   CAST(list_position([{argmin_terms}], best[i + 1]) AS INT))
                   AS bp
        FROM d{L})""",
    )
    stages.append(
        "s0 AS (SELECT w, n_occ, bp, len AS pos,"
        " CAST([] AS VARCHAR[]) AS toks FROM bpt)"
    )
    for i in range(1, L + 1):
        stages.append(
            f"s{i} AS (SELECT w, n_occ, bp,"
            f" CASE WHEN pos > 0 THEN pos - bp[pos] ELSE pos END AS pos,"
            f" CASE WHEN pos > 0 THEN"
            f" toks || [substr(w, pos - bp[pos] + 1, bp[pos])]"
            f" ELSE toks END AS toks FROM s{i - 1})"
        )
    return (
        "WITH " + ",\n".join(stages) + f"""
    SELECT token, CAST(SUM(n_occ) AS BIGINT) AS cnt,
           CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words
    FROM (SELECT w, n_occ, unnest(toks) AS token FROM s{L})
    GROUP BY token"""
    )


@register(
    "unigram_tokenize_viterbi",
    _duck_unigram_sql(),
    "text",
    "llm-pipeline",
)
def unigram_tokenize_viterbi(spark, sf_dir):
    """Unigram-LM (SentencePiece-family) tokenization: per-word Viterbi DP
    over a corpus-trained piece vocabulary — the standard alternative to
    BPE for LLM tokenizers (Kudo 2018). Pieces are all corpus substrings
    of length <= 4 weighted by word occurrences, capped at the top-48
    multi-char pieces plus every single character (so segmentation is
    always feasible, the cap itself a distributed TakeOrderedAndProject
    top-K, not a single-partition window); the DP minimizes the integer
    cost
    ``n_pieces * 2^40 - sum(freq)`` — fewest pieces first, then highest
    total piece frequency, a coarse-quantized stand-in for max log-prob
    that stays bit-exact in BIGINT arithmetic on both engines.

    Scale posture: everything after the one vocab GROUP BY is ROW-LOCAL
    per distinct word. The DP is a single ``aggregate()`` (HOF fold) over
    ``sequence(1, len)`` with the cost table pre-flattened into a dense
    64-slot array — no recursion, no per-position shuffle, no Python; the
    piece table join is vocab x 64 rows (vocabulary-sized, never
    corpus-sized). The backtrace is a second fold walking the argmin
    array. DuckDB has no seeded fold, so the oracle unrolls both loops
    into 16 materialized stages computing the identical integer DP.

    Engine notes: Spark's ``aggregate`` initial value must be typed
    (``CAST(array(0L) AS array<bigint>)``); the argmin is recovered
    after the fold as ``array_position`` of the achieved optimum (first
    match = smallest k, mirrored by DuckDB ``list_position``). The cost
    array is keyed by piece START: the transition ending at position i
    with length k reads slot ``(i-k)*K + k`` (piece ``w[i-k+1 .. i]``
    starts at i-k+1). Keying by END — ``(i-1)*K + k`` — is the classic
    off-by-one: both engines stay mutually consistent (the oracle still
    matches!) while silently pricing the wrong piece; only the
    independent Python-DP reference in tests/test_unigram_viterbi.py
    catches it."""
    L, K, P, M, INF = _UNI_L, _UNI_K, _UNI_P, _UNI_M, _UNI_INF
    d = load(spark, sf_dir, "documents")["documents"]
    d.createOrReplaceTempView("uni_docs_src")
    terms = ", ".join(
        f"IF(i >= {k}, element_at(acc, i - {k} + 1)"
        f" + element_at(pc, (i - {k}) * {K} + {k}), {INF}L)"
        for k in range(1, K + 1)
    )
    argmin_terms = ", ".join(
        f"IF(i >= {k}, element_at(best, i - {k} + 1)"
        f" + element_at(pc, (i - {k}) * {K} + {k}), {INF}L)"
        for k in range(1, K + 1)
    )
    return spark.sql(
        f"""
        WITH vocab AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS n_occ, length(w) AS len
            FROM (SELECT explode({_SPARK_WTOKS}) AS w FROM uni_docs_src)
            WHERE w RLIKE '{_BPE_WORD_RE}' AND length(w) <= {L}
            GROUP BY w),
        grid AS (
            SELECT i, k
            FROM (SELECT explode(sequence(1, {L})) AS i)
            CROSS JOIN (SELECT explode(sequence(1, {K})) AS k)),
        piece_occ AS (
            SELECT piece, CAST(SUM(n_occ) AS BIGINT) AS freq
            FROM (SELECT v.n_occ, substr(v.w, g.i, g.k) AS piece
                  FROM vocab v CROSS JOIN grid g
                  WHERE g.i + g.k - 1 <= v.len)
            GROUP BY piece),
        pieces AS (
            SELECT piece, freq FROM (
                SELECT piece, freq FROM piece_occ WHERE length(piece) >= 2
                ORDER BY freq DESC, piece LIMIT {P})
            UNION ALL
            SELECT piece, freq FROM piece_occ WHERE length(piece) = 1),
        wcost AS (
            SELECT v.w, v.n_occ, v.len,
                   transform(
                       array_sort(collect_list(
                           struct((g.i - 1) * {K} + g.k AS j,
                                  CASE WHEN g.i + g.k - 1 <= v.len
                                        AND p.freq IS NOT NULL
                                       THEN {M}L - p.freq
                                       ELSE {INF}L END AS c))),
                       e -> e.c) AS pc
            FROM vocab v
            CROSS JOIN grid g
            LEFT JOIN pieces p
                   ON g.i + g.k - 1 <= v.len AND substr(v.w, g.i, g.k) = p.piece
            GROUP BY v.w, v.n_occ, v.len),
        dp AS (
            SELECT w, n_occ, len, pc,
                   aggregate(
                       sequence(1, len),
                       CAST(array(0L) AS array<bigint>),
                       (acc, i) -> acc || array(least({terms}))) AS best
            FROM wcost),
        bpt AS (
            SELECT w, n_occ, len,
                   transform(sequence(1, len), i ->
                       CAST(array_position(array({argmin_terms}),
                                           element_at(best, i + 1)) AS INT))
                       AS bp
            FROM dp),
        segs AS (
            SELECT w, n_occ,
                   aggregate(
                       sequence(1, len),
                       named_struct('pos', len,
                                    'toks', CAST(array() AS array<string>)),
                       (acc, x) -> IF(acc.pos <= 0, acc,
                           named_struct(
                               'pos', acc.pos - element_at(bp, acc.pos),
                               'toks', acc.toks || array(substr(w,
                                   acc.pos - element_at(bp, acc.pos) + 1,
                                   element_at(bp, acc.pos)))))) AS st
            FROM bpt)
        SELECT token, CAST(SUM(n_occ) AS BIGINT) AS cnt,
               CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words
        FROM (SELECT w, n_occ, explode(st.toks) AS token FROM segs)
        GROUP BY token
        """
    )


# ---------------------------------------------------------------------------
# Distributed quality-classifier TRAINING (round 9): the step
# quality_model_filter deliberately omits. Batch gradient descent on a
# logistic-regression-style linear model with a HARD sigmoid
# (max(0, min(1, 0.25 z + 0.5)) — pure +-*/ arithmetic, because exp() is
# a libm call whose last bits differ across engines). Cross-engine
# bit-exactness of every weight: each row's gradient contribution is
# floor-quantized to BIGINT (floor on the identical IEEE double is
# unambiguous) and summed exactly, and the weight update
# w + LR*((s/1e9)/n) is the same three IEEE ops in Python (Spark driver)
# and SQL (DuckDB), so the learned doubles are equal bit for bit.
# ---------------------------------------------------------------------------

_LR_ITERS = 8
_LR_RATE = "2.0"
_LR_Q = "1000000000.0"  # gradient quantization: 1e-9 resolution,
#                         BIGINT-exact below ~4e9 docs (see docstring)


def _logreg_oracle() -> str:
    """The same training loop unrolled as DuckDB CTEs (the
    bpe_train_merges oracle pattern): it{t} holds the 5 weights after
    iteration t, g{t} the exact quantized gradient sums feeding it."""
    feats = rf"""f AS MATERIALIZED (
  SELECT LEAST(CAST(length(text) AS DOUBLE) / 1000.0, 1.0) AS x1,
         CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
             / (length(text) + 1) AS x2,
         CAST(16 * len(list_filter({_DUCK_WTOKS}, t -> t IN ({_SW_LIST_SQL}))) AS DOUBLE)
             / (len({_DUCK_WTOKS}) + 1) - 1.0 AS x3,
         CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
             / (length(text) + 1) AS x4,
         CASE WHEN 16 * len(list_filter({_DUCK_WTOKS}, t -> t IN ({_SW_LIST_SQL})))
                   > len({_DUCK_WTOKS})
              THEN 1.0 ELSE 0.0 END AS y
  FROM documents)"""
    ctes = [
        feats,
        "it0 AS (SELECT " + ", ".join(
            f"CAST(0.0 AS DOUBLE) AS b{j}" for j in range(5)) + ")",
    ]
    z = "((((b0 + b1 * x1) + b2 * x2) + b3 * x3) + b4 * x4)"
    e = f"(y - GREATEST(0.0, LEAST(1.0, 0.25 * {z} + 0.5)))"
    for t in range(1, _LR_ITERS + 1):
        terms = ", ".join(
            "CAST(SUM(CAST(floor(%s * %s) AS BIGINT)) AS BIGINT) AS s%d"
            % (e if j == 0 else f"({e} * x{j})", _LR_Q, j)
            for j in range(5)
        )
        ctes.append(f"g{t} AS (SELECT COUNT(*) AS n, {terms} FROM f, it{t-1})")
        upd = ", ".join(
            f"b{j} + {_LR_RATE} * ((CAST(s{j} AS DOUBLE) / {_LR_Q}) / n)"
            f" AS b{j}"
            for j in range(5)
        )
        ctes.append(f"it{t} AS (SELECT {upd} FROM it{t-1}, g{t})")
    final = f"""SELECT b0, b1, b2, b3, b4,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
  CAST(SUM(CASE WHEN ({z} > 0.0) = (y = 1.0) THEN 1 ELSE 0 END) AS BIGINT)
      AS n_correct,
  CAST(SUM(CASE WHEN ({z} > 0.0) = (y = 1.0) THEN 1 ELSE 0 END) AS DOUBLE)
      / COUNT(*) AS train_accuracy
FROM f, it{_LR_ITERS}
GROUP BY b0, b1, b2, b3, b4"""
    return "WITH " + ",\n".join(ctes) + "\n" + final


@register("quality_train_logreg", _logreg_oracle(), "text", "curation",
          "bench")
def quality_train_logreg(spark, sf_dir):
    """TRAIN the quality classifier distributed — the fastText-shaped
    companion to quality_model_filter (which applies fixed weights).
    Full-batch gradient descent, 8 iterations, on 4 row-local features
    (length score, punctuation ratio, centered stopword share, upper
    ratio) + bias against a deterministic prose-likeness label
    (stopword share > 1/16). The model is linear with a HARD sigmoid,
    so the whole loop is +-*/ arithmetic — bit-identical IEEE doubles
    on every engine (no exp()).

    Scale posture: each iteration is ONE map-side-combined aggregate —
    per-partition partial BIGINT sums of floor-quantized per-row
    gradients, a 32-partial merge, and a 5-double weight update on the
    driver (the BPE-argmax bounded-collect pattern: 8 one-row collects
    total). Features are computed once and persisted; nothing else is
    shuffled, so wall-time per iteration is a corpus scan — the same
    cost profile as production fastText-filter training. Quantized
    BIGINT sums stay exact below ~4e9 docs (1e9 quantization x 2.2 max
    |contribution|); above that, raise the quantization denominator.

    Cross-engine contract: the DuckDB oracle unrolls the SAME loop as
    CTEs (it{t} = weights after iteration t) and the weight update
    w + LR*((s/1e9)/n) is the same three IEEE ops in driver Python and
    in SQL, so learned weights, prediction counts, and accuracy are
    compared bit-exact, not approximately."""
    d = spread(
        spark,
        load(spark, sf_dir, "documents")["documents"],
        sf_dir,
        "documents",
        "doc_id",
        min_bytes=_SPREAD_MIN_BYTES,
    )
    n_chars = F.length("text")
    n_words = F.expr(f"size({_SPARK_WTOKS})")
    n_stop = F.expr(f"size(filter({_SPARK_WTOKS}, t -> t IN ({_SW_LIST_SQL})))")
    feats = d.select(
        F.least(n_chars.cast("double") / 1000.0, F.lit(1.0)).alias("x1"),
        (
            (n_chars - F.length(F.regexp_replace("text", r"[\p{Punct}]", "")))
            .cast("double") / (n_chars + 1)
        ).alias("x2"),
        (
            (16 * n_stop).cast("double") / (n_words + 1) - 1.0
        ).alias("x3"),
        (
            F.length(F.regexp_replace("text", "[^A-Z]", "")).cast("double")
            / (n_chars + 1)
        ).alias("x4"),
        F.when(16 * n_stop > n_words, 1.0).otherwise(0.0).alias("y"),
    ).persist()

    lr = float(_LR_RATE)
    q = float(_LR_Q)
    w = [0.0] * 5

    def z_col(ws):
        return (
            (
                (
                    (F.lit(ws[0]) + F.lit(ws[1]) * F.col("x1"))
                    + F.lit(ws[2]) * F.col("x2")
                )
                + F.lit(ws[3]) * F.col("x3")
            )
            + F.lit(ws[4]) * F.col("x4")
        )

    for _ in range(_LR_ITERS):
        e = F.col("y") - F.greatest(
            F.lit(0.0), F.least(F.lit(1.0), F.lit(0.25) * z_col(w) + F.lit(0.5))
        )
        aggs = [F.count(F.lit(1)).alias("n")] + [
            F.sum(
                F.floor(
                    (e if j == 0 else (e * F.col(f"x{j}"))) * F.lit(q)
                ).cast("long")
            ).alias(f"s{j}")
            for j in range(5)
        ]
        row = feats.agg(*aggs).collect()[0]
        n = row["n"]
        w = [w[j] + lr * ((row[f"s{j}"] / q) / n) for j in range(5)]

    z = z_col(w)
    correct = (
        F.when((z > 0.0) == (F.col("y") == 1.0), 1).otherwise(0)
    )
    result = feats.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0)).cast("long")
        .alias("n_pos"),
        F.sum(correct).cast("long").alias("n_correct"),
        (F.sum(correct).cast("double") / F.count(F.lit(1)))
        .alias("train_accuracy"),
    ).select(
        F.lit(w[0]).alias("b0"),
        F.lit(w[1]).alias("b1"),
        F.lit(w[2]).alias("b2"),
        F.lit(w[3]).alias("b3"),
        F.lit(w[4]).alias("b4"),
        "n_docs", "n_pos", "n_correct", "train_accuracy",
    )
    return scope_caches(result, feats)


# ---------------------------------------------------------------------------
# Gopher quality-rule battery (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", §A1.1). The subset of
# rules that is meaningful for a single-line corpus: word-count bounds, mean
# word length band, minimum distinct-stopword hits, alphabetic-word
# fraction, and the repetition rule re-expressed as the most-frequent-bigram
# mass fraction. Thresholds calibrated so each rule discriminates on the
# synthetic corpus (stop_hits>=2 fails ~half; top-bigram<=0.08 fails ~p90+;
# n_words>=20 catches the short tail).
#
# Scale posture: the Spark side is a SINGLE row-local projection — the
# top-bigram mode is computed inside the row by folding over the sorted
# bigram array (`aggregate`), so the whole filter runs with ZERO shuffles
# and stays in whole-stage codegen. The oracle uses the equivalent
# explode + GROUP BY formulation (clearer in SQL; the oracle is a
# correctness mirror, not the scale path). No lambda body may reference the
# token array: a consumer's filter on these columns (the curation
# pipeline's `keep == 1`) makes the optimizer inline the `toks` alias into
# every expression that reads it, and inside a lambda body that copy of the
# tokenizer runs once per array element — O(n_words^2) per row. `toks` may
# appear only as the array argument of a higher-order function.
# ---------------------------------------------------------------------------

_GOPHER_STOPS_SQL = _SW_LIST_SQL  # same 8-word stopword set as quality_score

# Bigram mode, row-locally: sort the bigram array, then one fold that
# tracks (prev value, current run, best run). No explode, no shuffle.
# Shared by quality_gopher_rules, curation_filter_funnel and
# stream_quality_gate. The bigrams zip the token array with itself shifted
# by one, so the lambda sees only the two elements and never `toks` (see
# the scale posture above); the size guard is part of the expression
# because slice() rejects the negative length an empty row would give.
_GOPHER_BIGRAMS = (
    "IF(size(toks) >= 2, "
    "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1), "
    "(a, b) -> concat(a, ' ', b)), array())"
)
# Distinct stopwords present in the row: array_intersect returns distinct
# elements and _STOPWORDS has no duplicates, so this counts the stopword
# hits without a lambda over `toks`.
_GOPHER_STOP_HITS = f"size(array_intersect(array({_SW_LIST_SQL}), toks))"
_GOPHER_TOP_FOLD = (
    "aggregate(array_sort(bgs), "
    "named_struct('prev', cast(null as string), 'run', 0, 'best', 0), "
    "(acc, x) -> named_struct("
    "  'prev', x, "
    "  'run', IF(x <=> acc.prev, acc.run + 1, 1), "
    "  'best', greatest(acc.best, IF(x <=> acc.prev, acc.run + 1, 1))), "
    "acc -> acc.best)"
)


@register(
    "quality_gopher_rules",
    rf"""
    WITH t AS (
        SELECT doc_id, {_DUCK_WTOKS} AS toks FROM documents),
    c AS (
        SELECT doc_id, toks,
               len(toks) AS n_words,
               CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len,
               len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha_words,
               len(list_filter([{_GOPHER_STOPS_SQL}], s -> list_contains(toks, s))) AS stop_hits
        FROM t),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i+1])) AS bigram
        FROM t WHERE len(toks) >= 2),
    bgtop AS (
        SELECT doc_id, MAX(cnt) AS top_cnt, CAST(SUM(cnt) AS BIGINT) AS n_bigrams
        FROM (SELECT doc_id, bigram, COUNT(*) AS cnt
              FROM bg GROUP BY doc_id, bigram)
        GROUP BY doc_id)
    SELECT c.doc_id,
           CAST(c.n_words AS INT) AS n_words,
           ROUND(CAST(c.sum_len AS DOUBLE) / c.n_words, 6) AS mean_word_len,
           CAST(c.stop_hits AS INT) AS stop_hits,
           ROUND(CAST(c.n_alpha_words AS DOUBLE) / c.n_words, 6) AS alpha_word_frac,
           ROUND(COALESCE(CAST(b.top_cnt AS DOUBLE) / b.n_bigrams, 0.0), 6)
               AS top_bigram_frac,
           CAST(CASE WHEN c.n_words BETWEEN 20 AND 1000
                      AND (CAST(c.sum_len AS DOUBLE) / c.n_words) BETWEEN 3.0 AND 10.0
                      AND c.stop_hits >= 2
                      AND CAST(c.n_alpha_words AS DOUBLE) / c.n_words >= 0.8
                      AND COALESCE(CAST(b.top_cnt AS DOUBLE) / b.n_bigrams, 0.0) <= 0.08
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM c LEFT JOIN bgtop b ON c.doc_id = b.doc_id
    WHERE c.n_words > 0
    """,
    "text",
    "curation",
    "bench",
)
def quality_gopher_rules(spark, sf_dir):
    d = spread(
        spark,
        load(spark, sf_dir, "documents")["documents"],
        sf_dir,
        "documents",
        "doc_id",
        min_bytes=_SPREAD_MIN_BYTES,
    )
    t = d.select("doc_id", F.expr(_SPARK_WTOKS).alias("toks"))
    c = t.where(F.size("toks") > 0).select(
        "doc_id",
        F.size("toks").alias("n_words"),
        F.expr("aggregate(toks, 0L, (a, x) -> a + length(x))").alias("sum_len"),
        F.expr("size(filter(toks, x -> x rlike '[a-z]'))").alias("n_alpha_words"),
        F.expr(_GOPHER_STOP_HITS).alias("stop_hits"),
        F.expr(_GOPHER_BIGRAMS).alias("bgs"),
    ).select(
        "doc_id", "n_words", "sum_len", "n_alpha_words", "stop_hits",
        F.expr(_GOPHER_TOP_FOLD).alias("top_cnt"),
        F.when(F.size("bgs") > 0, F.size("bgs")).alias("n_bigrams"),
    )
    mean_word_len = F.col("sum_len").cast("double") / F.col("n_words")
    alpha_frac = F.col("n_alpha_words").cast("double") / F.col("n_words")
    top_frac = F.coalesce(
        F.col("top_cnt").cast("double") / F.col("n_bigrams"), F.lit(0.0)
    )
    keep = (
        F.col("n_words").between(20, 1000)
        & mean_word_len.between(3.0, 10.0)
        & (F.col("stop_hits") >= 2)
        & (alpha_frac >= 0.8)
        & (top_frac <= 0.08)
    )
    return c.select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.col("stop_hits").cast("int").alias("stop_hits"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        F.round(top_frac, 6).alias("top_bigram_frac"),
        F.when(keep, 1).otherwise(0).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Filter-funnel attribution: the standard curation-pipeline report — for a
# sequential filter cascade, how many documents each stage receives,
# removes, and passes on. Production pipelines track this per ingest run to
# catch a filter suddenly eating the corpus (a regressed heuristic or a
# distribution shift upstream). Stages 1-6 are the cumulative Gopher rules
# (row-local flags); stage 7 is exact dedup, whose survivor count is
# COUNT(DISTINCT fingerprint) over stage-6 survivors.
#
# Scale posture: ONE aggregation pass — six conditional counts plus one
# distinct-count, all with map-side partials; no joins, no per-stage
# passes. The only shuffle is the count-distinct's.
# ---------------------------------------------------------------------------

_FUNNEL_STAGES = (
    "non_empty", "word_count", "word_length", "stopwords",
    "alpha_ratio", "repetition", "exact_dedup",
)


@register(
    "curation_filter_funnel",
    rf"""
    WITH t AS (
        SELECT doc_id, {_DUCK_WTOKS} AS toks,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        FROM documents),
    c AS (
        SELECT doc_id, fp,
               len(toks) AS n_words,
               CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len,
               len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha_words,
               len(list_filter([{_GOPHER_STOPS_SQL}], s -> list_contains(toks, s))) AS stop_hits,
               CASE WHEN len(toks) >= 2
                    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
                    ELSE CAST([] AS VARCHAR[]) END AS bgs
        FROM t),
    bt AS (
        SELECT doc_id, MAX(cnt) AS top_cnt, CAST(SUM(cnt) AS BIGINT) AS n_bigrams
        FROM (SELECT doc_id, bigram, COUNT(*) AS cnt
              FROM (SELECT doc_id, unnest(bgs) AS bigram FROM c) GROUP BY doc_id, bigram)
        GROUP BY doc_id),
    f AS (
        SELECT c.doc_id, c.fp,
               c.n_words > 0 AS f1,
               c.n_words BETWEEN 20 AND 1000 AS p2,
               (CAST(c.sum_len AS DOUBLE) / c.n_words) BETWEEN 3.0 AND 10.0 AS p3,
               c.stop_hits >= 2 AS p4,
               CAST(c.n_alpha_words AS DOUBLE) / c.n_words >= 0.8 AS p5,
               COALESCE(CAST(b.top_cnt AS DOUBLE) / b.n_bigrams, 0.0) <= 0.08 AS p6
        FROM c LEFT JOIN bt b ON c.doc_id = b.doc_id),
    g AS (
        SELECT doc_id, fp, f1,
               f1 AND p2 AS f2,
               f1 AND p2 AND p3 AS f3,
               f1 AND p2 AND p3 AND p4 AS f4,
               f1 AND p2 AND p3 AND p4 AND p5 AS f5,
               f1 AND p2 AND p3 AND p4 AND p5 AND p6 AS f6
        FROM f),
    a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS c0,
               CAST(COUNT(*) FILTER (WHERE f1) AS BIGINT) AS c1,
               CAST(COUNT(*) FILTER (WHERE f2) AS BIGINT) AS c2,
               CAST(COUNT(*) FILTER (WHERE f3) AS BIGINT) AS c3,
               CAST(COUNT(*) FILTER (WHERE f4) AS BIGINT) AS c4,
               CAST(COUNT(*) FILTER (WHERE f5) AS BIGINT) AS c5,
               CAST(COUNT(*) FILTER (WHERE f6) AS BIGINT) AS c6,
               CAST(COUNT(DISTINCT CASE WHEN f6 THEN fp END) AS BIGINT) AS c7
        FROM g),
    funnel AS (
        {" UNION ALL ".join(
            f"SELECT {i + 1} AS stage_idx, '{name}' AS stage, c{i} AS n_in, c{i + 1} AS n_out FROM a"
            for i, name in enumerate(_FUNNEL_STAGES)
        )})
    SELECT CAST(stage_idx AS INT) AS stage_idx, stage, n_in, n_out,
           n_in - n_out AS n_removed,
           CASE WHEN n_in > 0
                THEN ROUND(CAST(n_in - n_out AS DOUBLE) / n_in, 6)
                ELSE CAST(0.0 AS DOUBLE) END AS removal_rate
    FROM funnel
    """,
    "curation",
    "text",
)
def curation_filter_funnel(spark, sf_dir):
    d = load(spark, sf_dir, "documents")["documents"]
    c = d.select(
        "doc_id",
        F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))).alias("fp"),
        F.expr(_SPARK_WTOKS).alias("toks"),
    ).select(
        "doc_id", "fp",
        F.size("toks").alias("n_words"),
        F.expr("aggregate(toks, 0L, (a, x) -> a + length(x))").alias("sum_len"),
        F.expr("size(filter(toks, x -> x rlike '[a-z]'))").alias("n_alpha_words"),
        F.expr(_GOPHER_STOP_HITS).alias("stop_hits"),
        F.expr(_GOPHER_BIGRAMS).alias("bgs"),
    ).select(
        "doc_id", "fp", "n_words", "sum_len", "n_alpha_words", "stop_hits",
        F.expr(_GOPHER_TOP_FOLD).alias("top_cnt"),
        F.when(F.size("bgs") > 0, F.size("bgs")).alias("n_bigrams"),
    )
    p2 = F.col("n_words").between(20, 1000)
    p3 = (F.col("sum_len").cast("double") / F.col("n_words")).between(3.0, 10.0)
    p4 = F.col("stop_hits") >= 2
    p5 = F.col("n_alpha_words").cast("double") / F.col("n_words") >= 0.8
    p6 = F.coalesce(
        F.col("top_cnt").cast("double") / F.col("n_bigrams"), F.lit(0.0)
    ) <= 0.08
    g = c.select(
        "fp",
        (F.col("n_words") > 0).alias("f1"),
        ((F.col("n_words") > 0) & p2).alias("f2"),
        ((F.col("n_words") > 0) & p2 & p3).alias("f3"),
        ((F.col("n_words") > 0) & p2 & p3 & p4).alias("f4"),
        ((F.col("n_words") > 0) & p2 & p3 & p4 & p5).alias("f5"),
        ((F.col("n_words") > 0) & p2 & p3 & p4 & p5 & p6).alias("f6"),
    )
    a = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("c0"),
        *[
            F.count(F.when(F.col(f"f{k}"), 1)).cast("bigint").alias(f"c{k}")
            for k in range(1, 7)
        ],
        F.countDistinct(F.when(F.col("f6"), F.col("fp"))).cast("bigint").alias("c7"),
    )
    stack_args = ", ".join(
        f"{i + 1}, '{name}', c{i}, c{i + 1}" for i, name in enumerate(_FUNNEL_STAGES)
    )
    funnel = a.selectExpr(
        f"stack(7, {stack_args}) AS (stage_idx, stage, n_in, n_out)"
    )
    return funnel.select(
        F.col("stage_idx").cast("int").alias("stage_idx"),
        "stage",
        "n_in",
        "n_out",
        (F.col("n_in") - F.col("n_out")).alias("n_removed"),
        F.when(
            F.col("n_in") > 0,
            F.round((F.col("n_in") - F.col("n_out")).cast("double") / F.col("n_in"), 6),
        ).otherwise(F.lit(0.0)).alias("removal_rate"),
    )


# ---------------------------------------------------------------------------
# Boilerplate / template detection via fingerprint document frequency
# (the RefinedWeb/C4 "repeated across the corpus" signal, built on the
# winnowing fingerprints of Schleimer et al. 2003): a document whose
# fingerprints mostly also appear in many OTHER documents is a template —
# navigation chrome, license footers, generated pages. Per doc: the
# fraction of its fingerprints whose corpus-wide document frequency
# exceeds n_docs/10, flagged as a template above 0.65.
#
# Scale posture: fingerprints are row-local (no shuffle); the DF table is
# one explode + groupBy(fp) with map-side partials; the "common" set
# (df > n_docs/10) is by construction small — each member appears in >10%
# of the corpus, so there can be at most ~10/frac of them per doc-size
# class — and is BROADCAST back against the exploded fingerprint stream,
# leaving one final groupBy(doc_id). Raise the DF cutoff to shrink the
# broadcast at larger corpora.
# ---------------------------------------------------------------------------

_BP_FRAC = 0.65


@register(
    "text_boilerplate_df_score",
    f"""
    WITH h AS (SELECT doc_id, {_DUCK_KGRAM_HASHES} AS h
               FROM documents WHERE length(text) >= {_K + _W}),
    w AS (SELECT doc_id, {_DUCK_WINNOW} AS fps FROM h),
    e AS (SELECT doc_id, unnest(fps) AS fp FROM w),
    df AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS df FROM e GROUP BY fp),
    common AS (SELECT fp FROM df
               WHERE df > (SELECT COUNT(*) FROM documents) // 10),
    per AS (
        SELECT e.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_fps,
               CAST(COUNT(c.fp) AS BIGINT) AS n_common
        FROM e LEFT JOIN common c ON e.fp = c.fp
        GROUP BY e.doc_id)
    SELECT doc_id, CAST(n_fps AS INT) AS n_fps, CAST(n_common AS INT) AS n_common,
           ROUND(CAST(n_common AS DOUBLE) / n_fps, 6) AS boilerplate_frac,
           CAST(CASE WHEN CAST(n_common AS DOUBLE) / n_fps > {_BP_FRAC}
                     THEN 1 ELSE 0 END AS INT) AS is_template
    FROM per
    """,
    "text",
    "curation",
)
def text_boilerplate_df_score(spark, sf_dir):
    from pyspark.sql.functions import broadcast

    d = load(spark, sf_dir, "documents")["documents"]
    n_docs = d.count()  # bounded driver-side scalar (pagerank convention)
    # persist barrier before the winnow lambda (see text_fingerprint_winnow),
    # gate-spread for the same single-row-group reason
    h = (
        spread(spark, d, sf_dir, "documents", "doc_id")
        .where(F.length("text") >= _K + _W)
        .select("doc_id", F.expr(_SPARK_KGRAM_HASHES).alias("h"))
        .persist()
    )
    e = h.select("doc_id", F.expr(_SPARK_WINNOW).alias("fps")).select(
        "doc_id", F.explode("fps").alias("fp")
    ).persist()
    df_t = e.groupBy("fp").agg(F.count("*").cast("bigint").alias("df"))
    common = df_t.where(F.col("df") > n_docs // 10).select(
        F.col("fp").alias("cfp")
    )
    per = (
        e.join(broadcast(common), e.fp == common.cfp, "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_fps"),
            F.count("cfp").cast("bigint").alias("n_common"),
        )
    )
    frac = F.col("n_common").cast("double") / F.col("n_fps")
    out = per.select(
        "doc_id",
        F.col("n_fps").cast("int").alias("n_fps"),
        F.col("n_common").cast("int").alias("n_common"),
        F.round(frac, 6).alias("boilerplate_frac"),
        F.when(frac > _BP_FRAC, 1).otherwise(0).cast("int").alias("is_template"),
    )
    return scope_caches(out, h, e)


# ---------------------------------------------------------------------------
# Lexical diversity: Gini-Simpson index (1 - sum p_i^2 over the document's
# token distribution) and type-token ratio. The standard log-free
# diversity/repetitiveness signals (entropy needs ln(), which is NOT
# IEEE-identical across engines — pure +-*/ is; see SKILL.md gotchas):
# template-y and looping docs score low on both.
#
# Scale posture: row-local. The per-token counts never leave the row —
# sum of squared counts comes from the same sorted-array run-length fold
# quality_gopher_rules uses for the bigram mode, so the whole query is
# one projection: no explode, no shuffle.
# ---------------------------------------------------------------------------

_GINI_SS_FOLD = (
    "aggregate(array_sort(toks), "
    "named_struct('prev', cast(null as string), 'run', 0L, 'ss', 0L), "
    "(acc, x) -> IF(x <=> acc.prev, "
    "  named_struct('prev', x, 'run', acc.run + 1L, 'ss', acc.ss), "
    "  named_struct('prev', x, 'run', 1L, 'ss', acc.ss + acc.run * acc.run)), "
    "acc -> acc.ss + acc.run * acc.run)"
)


@register(
    "text_gini_diversity",
    rf"""
    WITH t AS (SELECT doc_id, {_DUCK_WTOKS} AS toks FROM documents),
    c AS (
        SELECT doc_id, token, COUNT(*) AS cnt
        FROM (SELECT doc_id, unnest(toks) AS token FROM t)
        GROUP BY doc_id, token),
    s AS (
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(SUM(cnt * cnt) AS BIGINT) AS ss
        FROM c GROUP BY doc_id)
    SELECT doc_id,
           CAST(n_tokens AS INT) AS n_tokens,
           CAST(n_distinct AS INT) AS n_distinct,
           ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS ttr,
           ROUND(1.0 - CAST(ss AS DOUBLE) / (n_tokens * n_tokens), 6)
               AS gini_simpson
    FROM s WHERE n_tokens > 0
    """,
    "text",
)
def text_gini_diversity(spark, sf_dir):
    d = load(spark, sf_dir, "documents")["documents"]
    t = d.select("doc_id", F.expr(_SPARK_WTOKS).alias("toks")).where(
        F.size("toks") > 0
    )
    c = t.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("bigint").alias("n_distinct"),
        F.expr(_GINI_SS_FOLD).alias("ss"),
    )
    return c.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_distinct").cast("int").alias("n_distinct"),
        F.round(F.col("n_distinct").cast("double") / F.col("n_tokens"), 6).alias("ttr"),
        F.round(
            F.lit(1.0)
            - F.col("ss").cast("double") / (F.col("n_tokens") * F.col("n_tokens")),
            6,
        ).alias("gini_simpson"),
    )


# ---------------------------------------------------------------------------
# Round 10 — RAKE keyword extraction (Rose et al. 2010): candidate phrases
# are maximal stopword-free token runs; each word scores deg(w)/freq(w)
# (deg = total length of phrases its occurrences appear in), and a phrase
# scores the sum of its words' scores. Per-word ratios are floor-quantized
# BEFORE the per-phrase sum, so phrase scores are exact BIGINTs.
# ---------------------------------------------------------------------------

_RAKE_TOP = 3


def _rake_sql(dialect: str) -> str:
    if dialect == "spark":
        toks = _SPARK_WTOKS
        pos_tok = (
            "SELECT doc_id, posexplode(toks) AS (pos, tok) FROM"
            " (SELECT doc_id, {t} AS toks FROM rake_docs_src)".format(t=toks)
        )
        agg_phrase = (
            "array_join(transform(array_sort(collect_list(struct(pos, tok))),"
            " x -> x.tok), ' ')"
        )
    else:
        toks = _DUCK_WTOKS
        pos_tok = (
            "SELECT doc_id, unnest(generate_series(0, len(toks) - 1)) AS pos,"
            " unnest(toks) AS tok FROM"
            " (SELECT doc_id, {t} AS toks FROM documents WHERE len({t}) > 0)"
            .format(t=toks)
        )
        agg_phrase = "string_agg(tok, ' ' ORDER BY pos)"
    return f"""
    WITH pt AS ({pos_tok}),
    nw AS (
        SELECT doc_id, pos, tok,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS island
        FROM pt WHERE tok NOT IN ({_SW_LIST_SQL})),
    ph AS (
        SELECT doc_id, island,
               {agg_phrase} AS phrase,
               CAST(COUNT(*) AS BIGINT) AS plen
        FROM nw GROUP BY doc_id, island),
    wocc AS (
        SELECT nw.doc_id, nw.island, nw.tok, ph.plen
        FROM nw JOIN ph ON nw.doc_id = ph.doc_id AND nw.island = ph.island),
    wstat AS (
        SELECT tok,
               CAST(SUM(plen) AS BIGINT) AS deg,
               CAST(COUNT(*) AS BIGINT) AS freq
        FROM wocc GROUP BY tok),
    scored AS (
        SELECT w.doc_id, w.island,
               CAST(SUM(CAST(FLOOR(1e9 * (CAST(s.deg AS DOUBLE) / s.freq))
                        AS BIGINT)) AS BIGINT) AS score_q9
        FROM wocc w JOIN wstat s ON w.tok = s.tok
        GROUP BY w.doc_id, w.island)
    SELECT doc_id, phrase, CAST(plen AS INT) AS n_words, score_q9,
           CAST(rnk AS INT) AS rnk
    FROM (
        SELECT ph.doc_id, ph.phrase, ph.plen, sc.score_q9,
               ROW_NUMBER() OVER (PARTITION BY ph.doc_id
                    ORDER BY sc.score_q9 DESC, ph.phrase, ph.island) AS rnk
        FROM ph JOIN scored sc
          ON ph.doc_id = sc.doc_id AND ph.island = sc.island) t
    WHERE rnk <= {_RAKE_TOP}
    """


@register(
    "text_rake_keywords",
    _rake_sql("duckdb"),
    "text",
    "llm-pipeline",
)
def text_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction (Rose et al. 2010): top-{_RAKE_TOP}
    candidate phrases per document. Phrases are maximal stopword-free
    token runs (gaps-and-islands: pos − row_number over non-stop tokens);
    word scores are degree/frequency over the whole corpus; phrase score
    = sum of floor-quantized word ratios — exact BIGINTs, so ranking ties
    break identically cross-engine (score, phrase text, island).

    Scale posture: tokenization and island-id are one window over
    (doc_id, pos); word statistics are a vocabulary-sized aggregate
    joined back onto the occurrence stream (vocabulary keys — Zipf-skewed
    at corpus scale, AQE skew handling as with lm_bigram_score); per-doc
    top-k is a doc-partitioned window, never a global sort."""
    d = load(spark, sf_dir, "documents")["documents"]
    d.createOrReplaceTempView("rake_docs_src")
    return spark.sql(_rake_sql("spark"))


@register(
    "vocab_coverage_curve",
    f"""
    WITH v AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest({_DUCK_WTOKS}) AS tok FROM documents)
        GROUP BY tok),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM v),
    ranked AS (
        SELECT tok, cnt,
               CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rn,
               CAST(SUM(cnt) OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS cum_cnt
        FROM v)
    SELECT CAST(rn AS INT) AS k, tok AS token_at_k, cnt AS token_cnt,
           cum_cnt, CAST(cum_cnt AS DOUBLE) / total AS coverage
    FROM ranked CROSS JOIN tot
    WHERE (rn & (rn - 1)) = 0
    """,
    "text",
    "llm-pipeline",
)
def vocab_coverage_curve(spark, sf_dir):
    """Vocabulary coverage curve: what share of the corpus token mass the
    top-k vocabulary covers, sampled at power-of-two k — the Zipf report
    that sizes a tokenizer vocabulary (and explains OOV rates) before
    training one. Coverage is a single division of exact BIGINT sums.

    Scale posture: one corpus aggregation to the vocabulary table, then
    rank/cumsum windows over the VOCABULARY (already reduced; a web-scale
    vocab is millions of rows, not corpus-scale — and the power-of-two
    filter keeps output logarithmic). Deterministic total order:
    (count DESC, token)."""
    d = load(spark, sf_dir, "documents")["documents"]
    v = (
        d.select(F.explode(F.expr(_SPARK_WTOKS)).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    tot = v.agg(F.sum("cnt").cast("bigint").alias("total"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok"))
    ranked = v.select(
        "tok",
        "cnt",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.sum("cnt").over(w).cast("bigint").alias("cum_cnt"),
    )
    return (
        ranked.where(F.expr("(rn & (rn - 1)) = 0"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("rn").cast("int").alias("k"),
            F.col("tok").alias("token_at_k"),
            F.col("cnt").alias("token_cnt"),
            "cum_cnt",
            (F.col("cum_cnt").cast("double") / F.col("total")).alias("coverage"),
        )
    )


# ---------------------------------------------------------------------------
# Round 12 — interpolated Kneser-Ney bigram scoring
# ---------------------------------------------------------------------------

_SPARK_W12 = (
    "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1), "
    "(x, y) -> struct(x AS w1, y AS w2))"
)
_DUCK_W12 = (
    "list_transform(generate_series(1, len(toks) - 1), "
    "i -> {'w1': toks[i], 'w2': toks[i + 1]})"
)

#: absolute discount D = 3/4 — Chen & Goodman's fixed-discount setting,
#: chosen rational so every term stays exact integer arithmetic
_KN_D_NUM, _KN_D_DEN = 3, 4


@register(
    "lm_kneser_ney_score",
    f"""
    WITH toks AS (
        SELECT doc_id, {_DUCK_WTOKS} AS toks FROM documents),
    big AS (
        SELECT doc_id, p.w1 AS w1, p.w2 AS w2
        FROM (SELECT doc_id, unnest({_DUCK_W12}) AS p
              FROM toks WHERE len(toks) >= 2)),
    c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM big GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM big GROUP BY w1),
    n1f AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS n1f FROM c12 GROUP BY w1),
    n1b AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM c12 GROUP BY w2),
    nbb AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbb FROM c12)
    SELECT big.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(
               (1000000000 * ({_KN_D_DEN} * c12.c12 - {_KN_D_NUM}))
                 // ({_KN_D_DEN} * c1.c1)
               + ({_KN_D_NUM} * (1000000000 // {_KN_D_DEN})
                  * n1f.n1f * n1b.n1b)
                 // (c1.c1 * (SELECT nbb FROM nbb))
           ) AS BIGINT) AS kn_score_q9
    FROM big
    JOIN c12 ON big.w1 = c12.w1 AND big.w2 = c12.w2
    JOIN c1 ON big.w1 = c1.w1
    JOIN n1f ON big.w1 = n1f.w1
    JOIN n1b ON big.w2 = n1b.w2
    GROUP BY big.doc_id
    """,
    "text",
    "llm-pipeline",
)
def lm_kneser_ney_score(spark, sf_dir):
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; Chen &
    Goodman 1999 fixed discount D=3/4) — the smoothing lm_bigram_score's
    raw MLE lacks: P(w2|w1) = max(c12-D,0)/c1 + D*N1+(w1,.)/c1 *
    N1+(.,w2)/N1+(..). The continuation-count backoff is what separates
    "rare but productive" contexts from gibberish, so the KN score
    filters boilerplate that fools the MLE model (repeated rare bigrams
    score high under MLE but have no continuation diversity).

    Cross-engine exactness: with D = 3/4 every term is exact BIGINT
    arithmetic — term1 = (1e9*(4*c12-3)) DIV (4*c1) (c12 >= 1 keeps the
    numerator positive), term2 = (3 * 250000000 * N1f * N1b) DIV
    (c1 * N_types) — no float anywhere; the per-doc score is the exact
    integer sum of per-occurrence q9 terms. Magnitude: 1e9 * 4*c12 needs
    c12 < 2.3e9 — at the corpus sizes here c12 tops out ~1e5; a 100 TB
    corpus scales the quantization down (q6) or splits the multiply, a
    documented retune, not a silent wrap (ANSI overflow would fail loud).

    Scale posture: same shape as lm_bigram_score — row-local bigram
    extraction, vocabulary-grain model tables with map-side partial
    aggregation, occurrence stream joined on (w1,w2)/(w1)/(w2) with AQE
    skew splitting on the Zipfian keys; the type-count scalar N1+(..)
    is one driver-collected BIGINT (colbert's closed-over-scalar
    pattern). big and c12 persist (c12 feeds three consumers: the
    occurrence join + both continuation-count aggregates)."""
    d = spread(
        spark,
        load(spark, sf_dir, "documents")["documents"],
        sf_dir,
        "documents",
        "doc_id",
        min_bytes=_SPREAD_MIN_BYTES,
    )
    big = (
        d.select("doc_id", F.expr(_SPARK_WTOKS).alias("toks"))
        .where(F.expr("size(toks)") >= 2)
        .select("doc_id", F.explode(F.expr(_SPARK_W12)).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .persist()
    )
    c12 = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
        .persist()
    )
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).cast("bigint").alias("c1"))
    n1f = (
        c12.groupBy("w1").agg(F.count(F.lit(1)).cast("bigint").alias("n1f"))
    )
    n1b = (
        c12.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("n1b"))
    )
    nbb = c12.count()
    term = F.expr(
        f"(1000000000L * ({_KN_D_DEN} * c12 - {_KN_D_NUM}))"
        f" DIV ({_KN_D_DEN} * c1)"
        f" + ({_KN_D_NUM} * {1_000_000_000 // _KN_D_DEN}L * n1f * n1b)"
        f" DIV (c1 * {nbb}L)"
    )
    scored = (
        big.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .join(n1f, "w1")
        .join(n1b, "w2")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum(term).cast("bigint").alias("kn_score_q9"),
        )
    )
    return scope_caches(scored, big, c12)
