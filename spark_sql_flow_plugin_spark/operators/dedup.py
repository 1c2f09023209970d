"""Deduplication operators for large-scale training-data pipelines (NEW —
no reference counterpart; SURVEY.md §7 M7).

Five strategies, all pure DataFrame pipelines (no collect(), no Python row
loops) so they scale to 100 TB:

- exact:        hash-groupBy on the raw text (one shuffle on the group key)
- fingerprint:  md5 of normalized text, groupBy (robust to whitespace/case)
- minhash-lsh:  shingle → 16 minhashes → 4 LSH bands → bucket self-join →
                exact-Jaccard verify. The self-join happens per (band, key)
                bucket, so candidate generation never goes quadratic.
- simhash:      per-token 32-bit hashes folded into a 16-bit simhash;
                banded self-join on simhash halves, Hamming-distance verify.
- embedding:    cosine self-join within a coarse partition (label) — the
                brute-force verify stage of an ANN pipeline.

Every hash is md5-derived (`conv(substr(md5(x),1,8),16,10)`) because md5 is
bit-identical in every engine — Spark's murmur3 `hash()` would diverge from
the DuckDB oracle.

The synthetic documents table has no duplicates, so each query first
augments the corpus deterministically: an exact copy (doc_id + 2_000_000,
every 5th doc) and a near-dup with the first two words dropped
(doc_id + 1_000_000). The oracle SQL applies the identical augmentation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..caching import scope_caches
from ..registry import register
from ..sources import load

# Fixed (a, b) coefficients for the 16 minhash permutations h_j = (a*h+b) % P.
MINHASH_P = 4294967311  # smallest prime > 2^32
MINHASH_AB = [
    (156182, 1434873648), (880047, 4051476735), (802762, 1818614044),
    (273926, 3941994176), (961770, 3269047055), (308618, 3997975303),
    (996862, 3283157744), (742647, 2932688482), (164371, 2057481145),
    (163433, 1758930727), (871890, 2240385137), (984765, 701472990),
    (381361, 3749379362), (161784, 3715501495), (578786, 342028611),
    (614408, 2340487227),
]

# ---------------------------------------------------------------------------
# Shared corpus augmentation (Spark + SQL twins)
# ---------------------------------------------------------------------------

_SPARK_TOKS = r"filter(split(lower(text), '\\s+'), t -> t != '')"
_DUCK_TOKS = r"list_filter(string_split_regex(lower(text), '\s+'), t -> t != '')"

#: DuckDB CTE producing the augmented corpus: (doc_id, text)
DUCK_AUG = """
aug AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           array_to_string(toks[3:], ' ') AS text
    FROM (SELECT doc_id, {toks} AS toks FROM documents)
    WHERE len(toks) > 4
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
)
""".format(toks=_DUCK_TOKS)


def augmented_documents(spark, sf_dir) -> DataFrame:
    """documents + deterministic exact/near duplicates (see module doc)."""
    d = load(spark, sf_dir, "documents")["documents"].select("doc_id", "text")
    # The single-file parquet source yields very few input splits locally,
    # so the CPU-heavy branches below (tokenize, shingle) would run on 2-3
    # cores. Repartition the BASE table before any derived branch — after
    # the union it would be too late, the tokenizer in `near` would already
    # be pinned to the scan's splits. Gated on actual split-starvation: a
    # multi-TB table has plenty of splits and skips the shuffle entirely
    # (the gate stats the file instead of df.rdd.getNumPartitions, whose
    # DataFrame->RDD conversion costs ~1s of driver time per query).
    n_parts = spark.sparkContext.defaultParallelism
    starved = _estimated_splits(spark, f"{sf_dir}/documents.parquet") < n_parts
    if starved:
        d = d.repartition(n_parts, "doc_id")
    toks = d.select("doc_id", F.expr(_SPARK_TOKS).alias("toks"))
    near = (
        toks.where(F.size("toks") > 4)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.array_join(F.expr("slice(toks, 3, size(toks) - 2)"), " ").alias("text"),
        )
    )
    exact = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    out = d.union(near).union(exact)
    if starved:
        # The 3-branch union triples the repartitioned width (3 x n_parts
        # partitions of a few KB each): every consumer that caches the
        # augmented corpus (or a frame derived from it) then runs 96-task
        # stages whose run_ms is dominated by task-launch overhead, not
        # CPU (guide §2.2 — fewer, larger partitions; the r16-opt
        # minhash_lsh profile measured verify stages at ~6x more
        # scheduler time than CPU). coalesce is shuffle-free: each output
        # task concatenates one partition per branch, so the tokenizer
        # still runs at full n_parts parallelism. Gated on the same
        # split-starvation test — a multi-TB table keeps its natural
        # splits and never coalesces.
        out = out.coalesce(n_parts)
    return out


#: Shared with partitioning.spread's gate — one copy of the heuristic
#: (r16 ADVICE: the two private copies would drift as call sites tune it).
from ..partitioning import estimated_splits as _estimated_splits  # noqa: E402


# ---------------------------------------------------------------------------
# 1. Exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    f"""
    WITH {DUCK_AUG}
    SELECT MIN(doc_id) AS keeper, COUNT(*) AS n_copies
    FROM aug GROUP BY md5(text), length(text) HAVING COUNT(*) > 1
    """,
    "dedup",
    "bench",
)
def dedup_exact(spark, sf_dir):
    # group on (md5, length) instead of the raw text: the exchange then
    # shuffles a 16-byte key per document instead of the full document
    # bytes (unhex packs the hex digest — a bijection, identical groups,
    # half the key width; guide §2.3). length() disambiguates the
    # astronomically-unlikely md5 collision class a little further; both
    # engines group identically.
    return (
        augmented_documents(spark, sf_dir)
        .groupBy(
            F.unhex(F.md5("text")).alias("fp"), F.length("text").alias("tlen")
        )
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies"))
        .where(F.col("n_copies") > 1)
        .select("keeper", "n_copies")
    )


@register(
    "dedup_fingerprint",
    f"""
    WITH {DUCK_AUG}
    SELECT fp, MIN(doc_id) AS keeper, COUNT(*) AS n_copies FROM (
        SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        FROM aug) t
    GROUP BY fp
    """,
    "dedup",
)
def dedup_fingerprint(spark, sf_dir):
    aug = augmented_documents(spark, sf_dir)
    return (
        aug.select(
            "doc_id",
            F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))).alias("fp"),
        )
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies"))
        .select("fp", "keeper", "n_copies")
    )


# ---------------------------------------------------------------------------
# 2. MinHash + LSH near-dedup
# ---------------------------------------------------------------------------

#: DuckDB word-3-gram shingle sets for the minhash CTEs below
_DUCK_MINHASH_SHINGLES = (
    "CASE WHEN len(toks) < 3 THEN [] ELSE list_distinct(list_transform("
    "  generate_series(1, len(toks) - 2),"
    "  i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])"
    ")) END"
)
_SPARK_H32 = "cast(conv(substr(md5(sh), 1, 8), 16, 10) as bigint)"
_DUCK_H32 = "('0x' || substr(md5(sh), 1, 8))::BIGINT"


def minhash_signatures(spark, sf_dir) -> tuple[DataFrame, DataFrame]:
    """(shingle_sets, signatures): the scalable explode→groupBy minhash.

    signatures has one row per doc with mh0..mh15; shingle_sets keeps the
    distinct-shingle array for the exact-Jaccard verify stage.

    Both are persisted: they are each consumed by multiple downstream
    branches (bands self-join + two verify joins), and without persistence
    Spark re-runs the tokenize→shingle→md5 pipeline once per consumer. At
    production scale this materialization is the signature table you'd
    write to storage between pipeline stages. Callers must wrap their
    final result in ``caching.scope_caches(result, sets, sig)`` so the
    caches are released when the result is garbage-collected.
    """
    aug = augmented_documents(spark, sf_dir)
    # Filter on size(toks), NOT size(shingles): a doc has >=1 3-gram
    # shingle iff it has >=3 tokens, and the toks predicate costs one
    # tokenization per row. Filtering on the computed shingle array is a
    # scale trap: Catalyst collapses the projections and substitutes the
    # full shingle expression into the Filter, re-inlining the tokenizer
    # THREE TIMES PER LAMBDA ELEMENT (O(n_tokens) regex splits per row),
    # and then pushes that filter below the repartition onto the parquet
    # scan's few input splits — measured 213 s vs 3 s for the identical
    # result at 110k docs (round-6 sf1 scale proof).
    sets = (
        aug.select("doc_id", F.expr(_SPARK_TOKS).alias("toks"))
        .where(F.size("toks") >= 3)
        .select("doc_id", F.expr(_SPARK_SHINGLES).alias("shingles"))
        .persist()
    )
    # Signatures are ROW-LOCAL: hash each shingle once with a transform(),
    # then take the 16 permuted mins with array_min over the same array —
    # no explode, no shuffle. (The explode→groupBy formulation shuffles
    # one row per (doc, shingle) — at 100 TB that shuffle dwarfs the band
    # join this stage exists to feed; the HOF form is a pure map stage and
    # produces the identical signature, as the unchanged oracle proves.)
    hs = sets.select(
        "doc_id", F.expr(f"transform(shingles, sh -> {_SPARK_H32})").alias("hs")
    )
    mins = [
        F.expr(
            f"array_min(transform(hs, h -> ({a} * h + {b}) % {MINHASH_P}))"
        ).alias(f"mh{j}")
        for j, (a, b) in enumerate(MINHASH_AB)
    ]
    return sets, hs.select("doc_id", *mins).persist()


#: shared CTE chain ending in `pairs` (near-dup pairs with raw jacc) — used
#: by the dedup_minhash_lsh oracle and the connected-components oracle
_DUCK_MINHASH_CTES = f"""{DUCK_AUG},
    sets AS (
        SELECT doc_id, shingles FROM (
            SELECT doc_id, {_DUCK_MINHASH_SHINGLES} AS shingles
            FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM aug))
        WHERE len(shingles) > 0),
    hashed AS (
        SELECT doc_id, {_DUCK_H32} AS h
        FROM (SELECT doc_id, unnest(shingles) AS sh FROM sets)),
    sig AS (
        SELECT doc_id,
        {','.join(f'MIN(({a} * h + {b}) % {MINHASH_P}) AS mh{j}' for j, (a, b) in enumerate(MINHASH_AB))}
        FROM hashed GROUP BY doc_id),
    bands AS (
        {' UNION ALL '.join(
            f"SELECT doc_id, {band} AS band_id, concat_ws(',', mh{band * 4}, mh{band * 4 + 1}, mh{band * 4 + 2}, mh{band * 4 + 3}) AS bkey FROM sig"
            for band in range(4)
        )}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    pairs AS (
        SELECT doc_a, doc_b,
               CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
               / (len(sa.shingles) + len(sb.shingles)
                  - len(list_intersect(sa.shingles, sb.shingles))) AS jacc
        FROM cand JOIN sets sa ON cand.doc_a = sa.doc_id
                  JOIN sets sb ON cand.doc_b = sb.doc_id
        WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
              / (len(sa.shingles) + len(sb.shingles)
                 - len(list_intersect(sa.shingles, sb.shingles))) >= 0.6)"""


def _minhash_candidates(sig) -> DataFrame:
    """LSH candidate pairs (doc_a < doc_b) from the 16-minhash signature
    table via the 4-band stack + band self-join. Shared by
    dedup_minhash_lsh and dedup_lsh_calibration."""
    # bands via stack(): ONE pass over sig instead of a 4-way union (which
    # would re-run the whole signature pipeline once per band)
    stack_args = ", ".join(
        f"{band}, concat_ws(',', mh{band * 4}, mh{band * 4 + 1}, mh{band * 4 + 2}, mh{band * 4 + 3})"
        for band in range(4)
    )
    # Band/candidate stages are PAIR-scale, not corpus-scale: size their
    # shuffles to the band-row count instead of inheriting the session's
    # corpus-width (the dedup_components convention — plan-local explicit
    # repartition, never a session-conf mutation). At sf0.1 the band
    # self-join and candidate distinct otherwise run as 64-partition
    # shuffles of ~22k rows and fixed per-partition overhead dominates:
    # measured 4.3 s -> 2.5 s for the identical result. sig is persisted,
    # so the sizing count() is a cache scan. Repartitioning on the join
    # keys also co-locates both sides of the self-join: no extra exchange.
    npart = max(1, -(-4 * sig.count() // 2_000_000))
    bands = sig.select(
        "doc_id", F.expr(f"stack(4, {stack_args})").alias("band_id", "bkey")
    ).repartition(npart, "band_id", "bkey")
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .repartition(npart, "doc_a", "doc_b")
        .distinct()
    )


@register(
    "dedup_minhash_lsh",
    f"""
    WITH {_DUCK_MINHASH_CTES}
    SELECT doc_a, doc_b, ROUND(jacc, 6) AS jacc FROM pairs
    """,
    "dedup",
    "bench",
)
def dedup_minhash_lsh(spark, sf_dir):
    sets, sig = minhash_signatures(spark, sf_dir)
    cand = _minhash_candidates(sig)
    inter = F.size(F.array_intersect(F.col("sa.shingles"), F.col("sb.shingles")))
    union_n = F.size("sa.shingles") + F.size("sb.shingles") - inter
    jacc = inter.cast("double") / union_n
    return scope_caches(
        cand.join(sets.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sets.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .where(jacc >= 0.6)
        .select("doc_a", "doc_b", F.round(jacc, 6).alias("jacc")),
        sets,
        sig,
    )


#: Spark/DuckDB twins for word-3-gram shingle SETS over the augmented
#: corpus, matching RegexTokenizer(\s+, lowercase) + NGram(3) +
#: binary CountVectorizer semantics exactly.
_SPARK_SHINGLES = (
    "array_distinct(transform(sequence(0, size(toks) - 3), "
    "i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])))"
)
_DUCK_SHINGLES = (
    "list_distinct(list_transform(range(1, len(toks) - 1), "
    "i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))"
)


@register(
    "dedup_minhash_mllib",
    f"""
    WITH {DUCK_AUG},
    sh AS (
        SELECT doc_id, {_DUCK_SHINGLES} AS sh
        FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM aug)
        WHERE len(toks) >= 3),
    near_true AS (
        SELECT x.doc_id
        FROM sh x JOIN sh y ON y.doc_id = x.doc_id + 1000000
        WHERE x.doc_id < 1000000
          AND CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
              / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))) >= 0.6),
    planted AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_planted
        FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
        WHERE doc_id % 5 = 0 AND len(toks) >= 3)
    SELECT n_exact_planted,
           n_exact_planted AS exact_recovered,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM near_true) AS n_near_true,
           TRUE AS near_recall_ok,
           TRUE AS precision_ok
    FROM planted
    """,
    "dedup",
    "bench",
)
def dedup_minhash_mllib(spark, sf_dir):
    """MLlib-native MinHash-LSH (pyspark.ml.feature.MinHashLSH +
    approxSimilarityJoin) over token CountVectorizer features — the
    battle-tested scale path for minhash dedup on a cluster — as a
    derived-check query: the candidate set itself is engine-specific
    (MinHashLSH's hash functions are JVM-internal), but three properties
    of it are exactly checkable against the planted duplicates of
    :func:`augmented_documents`:

    - ``exact_recovered``: every planted EXACT duplicate pair
      (doc_id, doc_id+2_000_000) MUST be returned — identical feature
      vectors collide in every hash table and have distance 0, so the
      count equals the DuckDB-computed number of planted exact dups.
    - ``precision_ok``: every returned pair's exact shingle-set Jaccard
      (recomputed independently of MLlib) is >= the 0.6 threshold.
    - ``near_recall_ok``: of the planted NEAR pairs whose true Jaccard is
      >= 0.6 (``n_near_true``, exactly computable in both engines via a
      1:1 join — no quadratic work), the fixed-seed LSH recovers >= 70%.
      Deterministic for seed=42, so the oracle asserts TRUE.
    """
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    aug = augmented_documents(spark, sf_dir)
    # Tokenize + word-3-gram shingle NATIVELY (optimization guide §4.1:
    # built-ins over UDFs). These expressions are row-for-row identical
    # to the RegexTokenizer(pattern=\s+, lowercase, minTokenLength=1) +
    # NGram(3) transformer pair used through r16: same token list (split
    # on \s+, lowercased, empties dropped), same ORDERED shingle list
    # with duplicates kept (zip_with over slices — the proven
    # CollapseProject-safe shape; transform+element_at would re-inline
    # the tokenizer per element, the r6 213-s trap). The multiset
    # CountVectorizer.fit sees is therefore unchanged — same vocabulary,
    # same indices, same MinHashLSH behavior — while the Scala-UDF
    # boxing of the two transformers and, crucially, the pushed-down
    # filter's DOUBLE UDF evaluation at the scan
    # (size(NGram(RegexTok(text))) > 0 per input row) disappear: the
    # filter below is the native size(toks) >= 3, exactly equivalent to
    # size(shingles) > 0 for a 3-gram.
    # unigram token sets are non-discriminative on a small vocabulary,
    # hence 3-gram shingles (same granularity as the md5 pipeline).
    _NGRAM3 = (
        "zip_with("
        "  slice(toks, 1, size(toks) - 2),"
        "  zip_with(slice(toks, 2, size(toks) - 2), slice(toks, 3, size(toks) - 2),"
        "           (y, z) -> concat(y, ' ', z)),"
        "  (x, yz) -> concat(x, ' ', yz)"
        ")"
    )
    # shingled feeds THREE full tokenize+3-gram passes without a cache:
    # CountVectorizer.fit's vocabulary flatMap, the feats cache build,
    # and (as the array_distinct'd variant) the independent exact-check
    # sets `sh` below — at sf1 each pass is ~20 s CPU re-running the
    # split/lower/zip_with pipeline from the corpus scan (r17 profile).
    # Persist the (doc_id, shingles) frame once; `sh` is then a cheap
    # array_distinct over the cache: _SPARK_SHINGLES is definitionally
    # array_distinct(transform(...)) over the same token list, and
    # array_distinct preserves first-occurrence order, so the derived
    # array is element-for-element identical to the standalone
    # expression (oracle digests pinned at 3 SFs).
    shingled = (
        aug.select("doc_id", F.expr(_SPARK_TOKS).alias("toks"))
        .where(F.size("toks") >= 3)
        .select("doc_id", F.expr(_NGRAM3).alias("shingles"))
        .persist()
    )
    # vocabSize far above the corpus' distinct-shingle count: truncation
    # would silently turn feature sets into a subset of the shingle sets
    # and break the exact-Jaccard precision check
    cv = CountVectorizer(
        inputCol="shingles", outputCol="features", binary=True, minDF=1.0,
        vocabSize=1 << 22,
    ).fit(shingled)
    # MinHashLSH requires at least one nonzero feature; the size(toks)>=3
    # filter above guarantees >=1 shingle per surviving row.
    # feats feeds both approxSimilarityJoin sides; found feeds the
    # precision join AND the recall join; sh is aliased into four join
    # subtrees. Unpersisted, each consumer re-ran its whole upstream —
    # including the LSH self-join TWICE (r16 multi-consumer audit, the
    # linkpred/semdedup pattern). ONE eager barrier (found.count) is
    # enough: materializing the LSH join populates the feats cache on
    # the way, and sh's persist absorbs the four-alias fan-out lazily
    # (a race there duplicates only a cheap tokenize from cached aug —
    # extra barriers measured ~1 s of dead weight at sf0.1).
    # The persist is SLIM (doc_id, features): the LSH fit/join only ever
    # reads these two columns, and caching the full transform width
    # (text + toks + shingles arrays) both widened the cache build and
    # stored corpus text for nothing (guide §2.3: project before the
    # exchange — the cache IS the exchange's input here).
    feats = cv.transform(shingled).select("doc_id", "features").persist()
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=4, seed=42
    ).fit(feats)
    # r17 measured-and-REJECTED
    # (`git show fc9683e:tools/ab_mllibfilter_r17opt.py`): the r16
    # verdict's suggested bucket-sharing pre-filter (restrict both join
    # sides to docs sharing >= 1 LSH bucket — output-invariant since
    # every emitted pair shares a bucket). On this corpus the filter
    # keeps 11,000/11,000 docs at sf0.1 (the small shingle universe makes
    # every doc collide somewhere across the 4 tables), so it is pure
    # added work: 3.75 -> 5.79 s interleaved, identical output. The
    # approxSimilarityJoin stage itself (hash + explode + bucket join +
    # keyDistance over every bucket-sharing pair) is MLlib-internal and
    # the query's documented floor — see
    # artifacts/mllib_simjoin_floor_r17.md.
    pairs = model.approxSimilarityJoin(feats, feats, 0.4, distCol="jaccard_dist")
    found = (
        pairs.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
        )
        .distinct()
        .persist()
    )
    found.count()

    # independent exact shingle sets (SQL expressions, no MLlib): the
    # distinct'd form of the cached shingle lists (see the shingled
    # persist note — identical arrays to the standalone _SPARK_SHINGLES
    # expression, one tokenize pass saved)
    sh = shingled.select(
        "doc_id", F.array_distinct("shingles").alias("sh")
    ).persist()

    def exact_jacc(a, b):
        inter = F.size(F.array_intersect(a, b))
        return inter.cast("double") / (F.size(a) + F.size(b) - inter)

    # precision + exact-dup recovery in one pass over the found pairs
    fj = (
        found.join(sh.alias("pa"), found["doc_a"] == F.col("pa.doc_id"))
        .join(sh.alias("pb"), found["doc_b"] == F.col("pb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            exact_jacc(F.col("pa.sh"), F.col("pb.sh")).alias("jacc"),
        )
    )
    prec = fj.agg(
        F.coalesce(F.bool_and(F.col("jacc") >= 0.6 - 1e-9), F.lit(True)).alias(
            "precision_ok"
        ),
        F.sum(
            (
                (F.col("doc_b") == F.col("doc_a") + 2000000)
                & (F.col("doc_a") < 1000000)
            ).cast("long")
        ).alias("exact_recovered"),
    )

    # planted-near ground truth: 1:1 join, exact Jaccard
    near_true = (
        sh.alias("x")
        .join(sh.alias("y"), F.col("y.doc_id") == F.col("x.doc_id") + 1000000)
        .where(F.col("x.doc_id") < 1000000)
        .where(exact_jacc(F.col("x.sh"), F.col("y.sh")) >= 0.6)
        .select(F.col("x.doc_id").alias("doc_a"))
    )
    n_near = near_true.agg(F.count(F.lit(1)).alias("n_near_true"))
    recovered = (
        near_true.join(
            found.where(
                (F.col("doc_b") == F.col("doc_a") + 1000000)
                & (F.col("doc_a") < 1000000)
            ),
            "doc_a",
        )
        .agg(F.count(F.lit(1)).alias("near_recovered"))
    )

    n_planted = (
        load(spark, sf_dir, "documents")["documents"]
        .where(F.col("doc_id") % 5 == 0)
        .select(F.expr(_SPARK_TOKS).alias("toks"))
        .where(F.size("toks") >= 3)
        .agg(F.count(F.lit(1)).alias("n_exact_planted"))
    )

    return scope_caches(
        n_planted.crossJoin(prec)
        .crossJoin(n_near)
        .crossJoin(recovered)
        .select(
            "n_exact_planted",
            "exact_recovered",
            "n_near_true",
            # integer-exact 70% bound: recovered*10 >= true*7
            (F.col("near_recovered") * 10 >= F.col("n_near_true") * 7).alias(
                "near_recall_ok"
            ),
            "precision_ok",
        ),
        shingled,
        feats,
        found,
        sh,
    )


# ---------------------------------------------------------------------------
# 2b. Duplicate-cluster resolution (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


@register(
    "dedup_components",
    f"""
    WITH RECURSIVE {_DUCK_MINHASH_CTES},
    und AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs),
    reach(node, r) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM und)
        UNION
        SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.node)
    SELECT component, COUNT(*) AS n_docs FROM (
        SELECT node, MIN(r) AS component FROM reach GROUP BY node)
    GROUP BY component
    """,
    "dedup",
    "bench",
)
def dedup_components(spark, sf_dir):
    """Duplicate-CLUSTER resolution: near-dup pairs say A~B and B~C, but a
    pipeline must keep exactly one document per transitive cluster
    {{A,B,C}}. Connected components over the minhash pair graph via HashMin
    label propagation: every node starts labeled with its own id, each
    round takes the min label over neighbors, fixpoint = the component id
    IS the minimum doc_id in the cluster (the canonical keeper).

    Scale posture: each round is ONE shuffle (join on dst + min-aggregate);
    rounds needed = graph diameter, and near-dup clusters are shallow (a
    handful of rounds). Every round is ``localCheckpoint``-ed: iterative
    DataFrames otherwise DOUBLE their logical plan each round and
    analysis/codegen time blows up within ~3 iterations (measured 2s → 10s
    per round); truncating lineage keeps rounds flat. localCheckpoint is
    executor-local (lost on executor failure) — on an unreliable cluster
    use ``df.checkpoint()`` to a reliable store instead. For graphs with
    long chains, the O(log n)-round alternating small-star / large-star
    algorithm (Kiveris et al., "Connected Components in MapReduce") is the
    drop-in upgrade.

    Returns (component, n_docs) — one row per duplicate cluster.
    """
    # hold the lsh result until `pairs` is materialized: its scope_caches
    # finalizer unpersists the shared signature tables on GC, and the eager
    # localCheckpoint below is the (only) consumer that needs them.
    # Checkpoint the ONE-SIDED pair list first: the previous shape built
    # `und` as pairs.union(pairs.swap) directly over the un-checkpointed
    # lsh result, so the union's two branches each executed the whole
    # minhash verify join — the full candidate+verify pipeline ran TWICE
    # inside one job (guide §2.4: accidental recompute, the r16
    # multi-consumer pattern again, this time via Union instead of twin
    # broadcasts).
    lsh = dedup_minhash_lsh(spark, sf_dir)
    pairs = lsh.select("doc_a", "doc_b").localCheckpoint()
    del lsh  # pair list materialized — release the signature caches
    # The candidate-pair graph is orders of magnitude smaller than the
    # corpus that produced it (pairs, not documents). Size the iteration's
    # shuffles to the measured edge count (~2M edges/partition) instead of
    # inheriting the corpus-scale shuffle width: at sf0.1 that turns each
    # round's 32-partition shuffle+checkpoint into a 1-partition one
    # (round time 1.7s -> 0.5s); at 10B edges it scales back up to 5000
    # partitions. The width is expressed PLAN-LOCALLY via explicit
    # hash-repartitions on the iteration's inputs — never by mutating the
    # session-global ``spark.sql.shuffle.partitions`` (which a concurrent
    # query on the shared session would silently inherit). Partitioning
    # ``und`` by the join key ``dst`` also co-locates it with the
    # label aggregation output (HashPartitioning(node, npart)), so the
    # per-round join needs NO exchange at all. The symmetric expansion is
    # a single-pass explode (both arc directions per input row), not a
    # two-scan union.
    n_edges = 2 * pairs.count()
    npart = max(1, -(-n_edges // 2_000_000))
    und = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition(npart, "dst")
        .localCheckpoint()
    )
    del pairs
    labels, _ = _propagate_min_labels(spark, und, npart)
    return (
        labels.groupBy("comp")
        .agg(F.count("*").alias("n_docs"))
        .select(F.col("comp").alias("component"), "n_docs")
    )


@register(
    "dedup_components_star",
    f"""
    WITH RECURSIVE {_DUCK_MINHASH_CTES},
    und AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs),
    reach(node, r) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM und)
        UNION
        SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.node)
    SELECT component, COUNT(*) AS n_docs FROM (
        SELECT node, MIN(r) AS component FROM reach GROUP BY node)
    GROUP BY component
    """,
    "dedup",
    "bench",
)
def dedup_components_star(spark, sf_dir):
    """Connected components via the two-phase large-star/small-star
    algorithm (Kiveris et al., ALENEX'14) — the O(log n)-round alternative
    to `dedup_components`' HashMin propagation, whose round count equals
    the graph DIAMETER. Near-dup clusters are shallow so HashMin usually
    wins on wall-clock per round, but adversarial corpora (quote chains,
    boilerplate gradients) produce long path components where diameter-many
    rounds is the bottleneck; the star rounds collapse any path in
    logarithmically many steps (tests/test_scale_plans.py chain test: a
    32-node path converges in <=6 star rounds vs ~31 HashMin rounds).

    Identical output contract and DuckDB oracle as `dedup_components`:
    (component = min doc_id of cluster, n_docs).
    """
    lsh = dedup_minhash_lsh(spark, sf_dir)
    edges = lsh.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).localCheckpoint()
    del lsh  # graph materialized — release the signature caches
    n_edges = edges.count()
    npart = max(1, -(-n_edges // 2_000_000))
    labels, _ = _two_phase_star_labels(spark, edges, npart)
    return (
        labels.groupBy("comp")
        .agg(F.count("*").alias("n_docs"))
        .select(F.col("comp").alias("component"), "n_docs")
    )


#: Round caps are safety valves against unbounded driver loops, NOT silent
#: truncation: both fixpoints RAISE if the cap is hit before convergence.
_HASHMIN_MAX_ROUNDS = 50
_STAR_MAX_ROUNDS = 60


def _propagate_min_labels(spark, und, npart):
    """HashMin fixpoint over a materialized edge list: returns ((node, comp)
    labels, rounds) where comp = min doc_id reachable. ``npart`` is the edge-sized
    shuffle width; every aggregation is preceded by an explicit
    ``repartition(npart, key)`` so the width lives in THIS plan only —
    HashPartitioning(key, npart) satisfies the aggregate's clustering
    requirement, so Catalyst inserts no second exchange and the session's
    ``spark.sql.shuffle.partitions`` is never consulted or modified."""
    # initialize with round 1 already applied: label(n) = min(n, min
    # neighbor) falls out of one aggregation over the edge list, so the
    # identity-label round is never materialized or iterated
    labels = (
        und.repartition(npart, "src")
        .groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("comp"))
        .select(F.col("src").alias("node"), "comp")
        .localCheckpoint()
    )
    rounds = 1  # the folded-in identity round above
    converged = False
    for _ in range(_HASHMIN_MAX_ROUNDS):
        rounds += 1
        # one round = ONE aggregation over (own label ∪ neighbor labels):
        # min(comp) over the union is exactly least(own, min-neighbor), so
        # the classic neighbor-min-then-rejoin shape collapses from two
        # joins + an aggregate into one join + one aggregate per round.
        # Convergence detection is folded in: the self row carries the old
        # label out of the same aggregation (exactly one self row per
        # node), and the fixpoint probe is an any-row scan (limit 1
        # short-circuits) over the just-checkpointed blocks — no extra
        # pass over the graph (round-2 verdict, "What's wrong" #3).
        nbr = und.join(labels, und["dst"] == labels["node"]).select(
            und["src"].alias("node"), "comp", F.lit(False).alias("is_self")
        )
        own = labels.select("node", "comp", F.lit(True).alias("is_self"))
        new_labels = (
            own.unionByName(nbr)
            .repartition(npart, "node")
            .groupBy("node")
            .agg(
                F.min("comp").alias("comp"),
                F.max(F.when(F.col("is_self"), F.col("comp"))).alias("old_comp"),
            )
            .select("node", "comp", (F.col("comp") < F.col("old_comp")).alias("chg"))
            .localCheckpoint()
        )
        changed = new_labels.where("chg").limit(1).count()
        labels = new_labels.select("node", "comp")
        if changed == 0:
            converged = True
            break
    if not converged:
        # HashMin needs diameter-many rounds; a graph deeper than the cap
        # would otherwise return silently-WRONG labels (nodes > cap hops
        # from their component minimum keep stale labels — a 10k-node
        # stress with a planted 500-node chain caught exactly this).
        # Refuse loudly and point at the O(log n) algorithm.
        raise RuntimeError(
            f"HashMin label propagation did not converge within "
            f"{_HASHMIN_MAX_ROUNDS} rounds: the candidate graph has a "
            f"component deeper than the round cap (long chains). Use "
            f"dedup_components_star / _two_phase_star_labels, which "
            f"converges in O(log n) rounds on any graph."
        )
    return labels, rounds


def _orient_max_min(edges):
    """Canonical orientation (max, min) for an undirected edge list with
    columns (u, v); drops self-loops."""
    return edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))


def _large_star(edges, npart):
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", ALENEX'14 §3): for each node u with m =
    min(N(u) ∪ {u}), connect every strictly-LARGER neighbor to m. One
    edge-sized aggregation + one co-partitioned join."""
    # single-pass symmetric expansion (guide §2.4; the union form scanned
    # the round's edge list twice)
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u"), F.col("v")),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    sym = sym.repartition(npart, "u")
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        # explicit edge-sized width for the distinct (the components
        # convention): each round is materialized through localCheckpoint,
        # whose RDD path bypasses AQE partition coalescing — without this
        # the distinct ran at the session's full shuffle width in
        # near-empty tasks every round
        .repartition(npart, "u", "v")
        .distinct()
    )


def _small_star(edges, npart):
    """One small-star round: orient edges (max → min); for each node u with
    smaller-neighbor set N and m = min(N), connect u and every other member
    of N to m. Output keeps the (larger, smaller) orientation."""
    ori = _orient_max_min(edges).repartition(npart, "u")
    mins = ori.groupBy("u").agg(F.min("v").alias("m"))
    nbr = (
        ori.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    # explicit width on the round-output distinct — same AQE-bypass
    # rationale as _large_star
    return (
        nbr.union(mins.select("u", F.col("m").alias("v")))
        .repartition(npart, "u", "v")
        .distinct()
    )


def _two_phase_star_labels(spark, edges, npart):
    """Alternating large-star/small-star fixpoint: returns ((node, comp)
    labels, rounds). Converges in O(log n) rounds on ANY graph — including
    the long-chain graphs where HashMin label propagation needs
    diameter-many rounds. Same plan-local width discipline as
    `_propagate_min_labels`: explicit repartition(npart, key), no session
    conf touched. Each round is localCheckpoint-ed to truncate lineage.

    Convergence = the oriented edge multiset is unchanged. A (count, sum of
    64-bit edge hashes) signature — one tiny aggregation over the
    just-checkpointed round output — serves as the cheap per-round filter;
    when the signature matches, an EXACT ``exceptAll`` emptiness check
    confirms it, so a hash-sum collision between different edge sets can
    never terminate the fixpoint early with wrong labels. The exact check
    runs only on the (typically final) signature-match round.
    """
    def _sig(df):
        # 64-bit hashes summed as decimal(38,0): a bigint sum would overflow
        # under ANSI mode after ~2^32 edges
        return df.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()

    cur = (
        _orient_max_min(edges)
        .repartition(npart, "u", "v")
        .distinct()
        .localCheckpoint()
    )
    sig = _sig(cur)
    rounds = 0
    converged = False
    for _ in range(_STAR_MAX_ROUNDS):
        rounds += 1
        prev = cur
        nxt = _small_star(_large_star(cur, npart), npart).localCheckpoint()
        nsig = _sig(nxt)
        cur = nxt
        if (nsig["n"], nsig["h"]) == (sig["n"], sig["h"]):
            # equal counts mean one-sided exceptAll emptiness proves
            # multiset equality (both are localCheckpoint-ed, so this is
            # a join over materialized round outputs, not a recompute)
            if nxt.exceptAll(prev).limit(1).count() == 0:
                converged = True
                break
        sig = nsig
    if not converged:
        raise RuntimeError(
            f"two-phase star components did not converge within "
            f"{_STAR_MAX_ROUNDS} rounds — theoretical bound is O(log n), "
            f"so this indicates a bug or an astronomically large graph"
        )
    # fixpoint is a forest of stars centered on each component's min node:
    # every non-center points at the center, centers appear only on the
    # min side — label centers with themselves
    return (
        cur.select(F.col("u").alias("node"), F.col("v").alias("comp"))
        .union(cur.select(F.col("v").alias("node"), F.col("v").alias("comp")))
        .repartition(npart, "node", "comp")
        .distinct(),
        rounds,
    )


# ---------------------------------------------------------------------------
# 3. SimHash near-dedup
# ---------------------------------------------------------------------------

# 64-bit simhash (Charikar), stored as four 16-bit band values b0..b3 — the
# bands ARE the LSH keys (Manku/Jain/Sarma WWW'07 layout: 64 bits, 4 bands,
# hamming <= 3). Two md5-derived 32-bit chunks supply the 64 bit decisions;
# keeping the signature as 4 small ints sidesteps signed-bigint overflow at
# bit 63 and makes the band join a plain equi-join on a 2^16-value key.
# Candidate generation is stack(4, ...) → self-equi-join on (band_id, bval),
# exactly like the minhash path: never an OR-join (which Spark would execute
# as a quadratic BroadcastNestedLoopJoin).
_N_SIMHASH_BITS = 64
_SIMHASH_BAND_BITS = 16
_N_SIMHASH_BANDS = _N_SIMHASH_BITS // _SIMHASH_BAND_BITS
_SIMHASH_HAMMING_MAX = 3
# chunk columns: h_lo = md5 hex digits 9-16 (bits 0..31), h_hi = digits 1-8
_SPARK_H_LO_TOK = "cast(conv(substr(md5(tok), 9, 8), 16, 10) as bigint)"
_SPARK_H_HI_TOK = "cast(conv(substr(md5(tok), 1, 8), 16, 10) as bigint)"
_DUCK_H_LO_TOK = "('0x' || substr(md5(tok), 9, 8))::BIGINT"
_DUCK_H_HI_TOK = "('0x' || substr(md5(tok), 1, 8))::BIGINT"


def _simhash_band_sql(band: int) -> str:
    """DuckDB aggregate expression for band value b{band} (16 bits)."""
    chunk = "h_lo" if band < 2 else "h_hi"
    off = (band % 2) * _SIMHASH_BAND_BITS
    terms = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN ({chunk} >> {off + i}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(_SIMHASH_BAND_BITS)
    )
    return f"({terms}) AS b{band}"


def _simhash_band_col(band: int):
    """Spark aggregate Column for band value b{band}."""
    chunk = F.col("h_lo") if band < 2 else F.col("h_hi")
    off = (band % 2) * _SIMHASH_BAND_BITS
    terms = [
        F.when(
            F.sum(
                F.when((F.shiftright(chunk, off + i) % 2) == 1, 1).otherwise(-1)
            )
            >= 0,
            F.lit(1 << i),
        ).otherwise(0)
        for i in range(_SIMHASH_BAND_BITS)
    ]
    return sum(terms[1:], terms[0]).alias(f"b{band}")


_DUCK_SIMHASH_HAMMING = " + ".join(
    f"bit_count(xor(sa.b{j}, sb.b{j}))" for j in range(_N_SIMHASH_BANDS)
)


@register(
    "dedup_simhash",
    f"""
    WITH {DUCK_AUG},
    tok AS (
        SELECT doc_id, {_DUCK_H_LO_TOK} AS h_lo, {_DUCK_H_HI_TOK} AS h_hi FROM (
            SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM aug)),
    sig AS (
        SELECT doc_id,
        {', '.join(_simhash_band_sql(j) for j in range(_N_SIMHASH_BANDS))}
        FROM tok GROUP BY doc_id),
    bands AS (
        {' UNION ALL '.join(f'SELECT doc_id, {j} AS band_id, b{j} AS bval FROM sig' for j in range(_N_SIMHASH_BANDS))}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.bval = b.bval AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, CAST({_DUCK_SIMHASH_HAMMING} AS INT) AS hamming
    FROM cand JOIN sig sa ON cand.doc_a = sa.doc_id
              JOIN sig sb ON cand.doc_b = sb.doc_id
    WHERE {_DUCK_SIMHASH_HAMMING} <= {_SIMHASH_HAMMING_MAX}
    """,
    "dedup",
)
def dedup_simhash(spark, sf_dir):
    aug = augmented_documents(spark, sf_dir)
    # materialize the token arrays before exploding: a Generate whose input is
    # a fused HOF expression re-evaluates it per output row (see minhash note)
    toks = aug.select("doc_id", F.expr(_SPARK_TOKS).alias("toks")).persist()
    tok = toks.select("doc_id", F.explode("toks").alias("tok")).select(
        "doc_id",
        F.expr(_SPARK_H_LO_TOK).alias("h_lo"),
        F.expr(_SPARK_H_HI_TOK).alias("h_hi"),
    )
    # persisted: consumed by both band-join sides and both verify joins
    sig = tok.groupBy("doc_id").agg(
        *[_simhash_band_col(j) for j in range(_N_SIMHASH_BANDS)]
    ).persist()
    stack_args = ", ".join(f"{j}, b{j}" for j in range(_N_SIMHASH_BANDS))
    bands = sig.select(
        "doc_id",
        F.expr(f"stack({_N_SIMHASH_BANDS}, {stack_args})").alias("band_id", "bval"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    hamming = None
    for j in range(_N_SIMHASH_BANDS):
        term = F.bit_count(F.col(f"sa.b{j}").bitwiseXOR(F.col(f"sb.b{j}")))
        hamming = term if hamming is None else hamming + term
    return scope_caches(
        cand.join(sig.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sig.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .where(hamming <= _SIMHASH_HAMMING_MAX)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming")),
        toks,
        sig,
    )


# ---------------------------------------------------------------------------
# 4. Character-n-gram Jaccard near-dedup (banded by source + length bucket)
# ---------------------------------------------------------------------------

# Loud-fail ceiling on sum-over-strata of C(n_distinct_gram_sets, 2):
# each surviving set pair costs one inlined bitmask intersection
# (~0.1 us), so 50M pairs ~ seconds of CPU across 32 cores -- past that
# the exact pair join is the wrong tool and the operator refuses
# instead of hanging (r14 verdict prescription).
_NGRAM_PAIR_BUDGET = 50_000_000
# Bitmask width cap: the dictionary-encoded gram universe must fit
# 4096 ids (64 longs = 64 mask columns). Char-trigram universes on this
# corpus are alphabet-bounded (a few hundred grams); past ~64 mask
# columns the groupBy/self-join enters Janino codegen-fallback territory
# well before memory is a problem (r15 ADVICE), so the practical cap is
# set where the flat-LONG plan is still comfortably codegen-friendly. A
# corpus past the cap should use the banded dedup operators instead.
_NGRAM_VOCAB_CAP = 4096
# Triangular grid-blocking factor for the distinct-set self-join: each
# stratum's pair mass spreads across B*(B+1)/2 cells so one hot stratum
# cannot serialize onto a single task (the r14 359 s sf1 run was skew
# on top of pair mass: few strata -> one task per stratum).
_NGRAM_GRID_B = 8

#: Distinct char trigrams. r17 measured-and-REJECTED alternative: a
#: zero-width-lookahead regexp_extract_all('(?s)(?=(...))') is
#: element-identical (Matcher.find() advances one char past a zero-width
#: match, so it captures overlapping trigrams) and codegen where
#: transform(sequence...) is interpreted fallback — 1.8x faster on an
#: isolated extraction microbench, but the FULL query measured ~1 s
#: WORSE at sf0.1 and neutral at sf1
#: (`git show fc9683e:tools/ab_cgrams_r17opt.py`:
#: RegExpExtractAll materializes a Java String copy of every text per
#: row, and extraction is a minor share of the query next to the
#: mask-build and driver round trips).
_SPARK_CGRAMS = (
    "array_distinct(transform(sequence(1, length(text) - 2), i -> substr(text, i, 3)))"
)
_DUCK_CGRAMS = (
    "list_distinct(list_transform(generate_series(1, length(text) - 2), i -> substr(text, i, 3)))"
)


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {DUCK_AUG},
    g AS (
        SELECT a.doc_id, d.source, CAST(floor(length(a.text) / 64) AS BIGINT) AS lbucket,
               {_DUCK_CGRAMS.replace('text', 'a.text')} AS grams
        FROM aug a JOIN documents d ON (a.doc_id % 1000000) = d.doc_id
        WHERE length(a.text) >= 3)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6) AS jacc
    FROM g a JOIN g b
      ON a.source = b.source AND a.lbucket = b.lbucket AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.55
    """,
    "dedup",
    "bench",
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact stratified n-gram Jaccard pairs at DISTINCT GRAM-SET grain
    with bitmask set algebra and a grid-blocked pair join (r15, closing
    the r14 `weak`): the naive per-doc self-join was quadratic in
    stratum size AND skew-serialized (few strata -> one 359 s task at
    sf1), and the textbook df-ordered prefix filter measured WORSE on
    this 31-word-vocabulary corpus (r14, reverted). Structure:

      1. dictionary-encode the char-trigram universe (alphabet-bounded;
         _NGRAM_VOCAB_CAP refuses loudly past 4096 grams) and pack each
         doc's gram set into W = ceil(V/64) flat LONG columns -- mask
         equality IS set equality, so the distinct-set reduction is a
         codegen-friendly groupBy over longs, never array keys;
      2. identical-set doc pairs are Jaccard = 1.0 by definition -- an
         array pair-expansion per group, no join (output-bound);
      3. cross-set pairs run over DISTINCT SETS through a triangular
         grid-blocked self-join -- a row with block r replicates to the
         B cells {(min(r,s), max(r,s))}, a cross-block pair meets in
         exactly one cell, and the diagonal filter keeps same-block
         pairs only in cell (r, r) -- so one hot stratum spreads over
         B(B+1)/2 tasks instead of serializing; |A n B| is an inlined
         sum of bit_count(ma_w & mb_w) -- exact integers, no per-pair
         array allocation. Surviving set pairs expand back to doc pairs
         (output-bound).

    Exactness is preserved (every doc pair is within one group or across
    exactly one group pair; inter/|A|/|B| are the same integers the
    array_intersect formulation produced, so the jacc doubles are
    bit-identical) and the oracle is unchanged. Pair mass is quadratic
    in distinct sets, not docs; a stratum set-pair budget trips loudly
    instead of hanging (_NGRAM_PAIR_BUDGET, r14 verdict prescription).
    The budget check and the vocab build materialize the two persisted
    frames at build time -- documented eager steps, like the banded
    near-dup candidate caches."""
    docs = (
        load(spark, sf_dir, "documents")["documents"]
        .select(F.col("doc_id").alias("orig_id"), "source")
    )
    aug = augmented_documents(spark, sf_dir)
    n_parts = 2 * spark.sparkContext.defaultParallelism
    g = (
        aug.join(docs, (aug["doc_id"] % 1000000) == docs["orig_id"])
        .where(F.length(aug["text"]) >= 3)
        .select(
            aug["doc_id"].alias("doc_id"),
            "source",
            F.floor(F.length(aug["text"]) / 64).alias("lbucket"),
            F.expr(_SPARK_CGRAMS).alias("grams"),
        )
        .persist()
    )
    # The eager section below persists g and sets; any raise in it (the
    # vocab cap, the pair budget, or a Spark failure mid-collect) must
    # unpersist both before propagating, or a tripped budget in a
    # long-lived registry session pins cached frames forever (r15
    # ADVICE — scope_caches only attaches on the success path).
    sets = None
    try:
        # Dense gram ids, collected once to the driver (alphabet-bounded,
        # a few hundred rows) and re-created as a LOCAL relation: a
        # DataFrame-side vocab would be re-computed per consuming job,
        # because broadcast subtrees are never reused across jobs (r14
        # profiling lesson) — that re-ran the whole gram pipeline. The
        # collect also doubles as the materialization of g.
        gram_rows = (
            g.select(F.explode("grams").alias("gram")).distinct().collect()
        )
        grams_sorted = sorted(r.gram for r in gram_rows)
        n_vocab = len(grams_sorted)
        if n_vocab > _NGRAM_VOCAB_CAP:
            raise RuntimeError(
                f"dedup_ngram_jaccard: {n_vocab} distinct grams exceed the "
                f"bitmask vocabulary cap ({_NGRAM_VOCAB_CAP}); use the banded "
                "dedup operators (minhash/simhash) for this corpus"
            )
        if n_vocab == 0:
            # No doc survived the length>=3 filter (possible at a tiny
            # SF): zero grams means zero pairs. Without this guard
            # mask_cols is empty and groupBy().agg(*[]) dies with an
            # opaque PySpark error (r15 ADVICE).
            g.unpersist()
            return spark.createDataFrame(
                [], "doc_a bigint, doc_b bigint, jacc double"
            )
        n_words = (n_vocab + 63) // 64
        mask_cols = [f"m{w}" for w in range(n_words)]
        # Per-doc mask build from a LITERAL gram->gid map (r17): the
        # previous explode + broadcast-vocab join + doc-grain bit_or
        # re-aggregation shuffled ~200 gram rows per doc back to doc
        # grain — an exchange plus a hash re-aggregation that exist only
        # to undo the explode. With the alphabet-bounded vocabulary
        # (<= _NGRAM_VOCAB_CAP ids, already collected driver-side) the
        # gid lookup is an element_at on a map literal and each mask
        # word one aggregate() pass over the gids array: no explode, no
        # join, no doc-grain exchange (guide §2.4). Measured 1.3-1.8 ->
        # 0.8-1.0 s on the sets-build job at sf0.1 with identical sets.
        _esc = lambda s: s.replace("\\", "\\\\").replace("'", "\\'")  # noqa: E731
        map_sql = (
            "map("
            + ",".join(f"'{_esc(gm)}',{i}" for i, gm in enumerate(grams_sorted))
            + ")"
        )
        doc_masks = g.select(
            "doc_id",
            "source",
            "lbucket",
            F.size("grams").cast("int").alias("sz"),
            F.expr(f"transform(grams, x -> element_at({map_sql}, x))").alias(
                "gids"
            ),
        ).select(
            "doc_id",
            "source",
            "lbucket",
            "sz",
            *[
                F.expr(
                    f"aggregate(gids, 0L, (acc, i) -> IF(i DIV 64 = {w}, "
                    "acc | shiftleft(1L, CAST(i % 64 AS INT)), acc))"
                ).alias(c)
                for w, c in enumerate(mask_cols)
            ],
        )
        # Distinct-set reduction over flat long keys; the stratum is part of
        # the key (equal sets in different strata never pair). set_id =
        # smallest member doc_id -- unique per group within a stratum.
        sets = (
            doc_masks.groupBy("source", "lbucket", "sz", *mask_cols)
            .agg(F.array_sort(F.collect_list("doc_id")).alias("members"))
            .withColumn("set_id", F.element_at("members", 1))
            .withColumn(
                "blk",
                F.pmod(F.xxhash64("set_id"), F.lit(_NGRAM_GRID_B)).cast("int"),
            )
            .persist()
        )
        # Pair-budget tripwire (+ cache materialization, documented above):
        # sum over strata of C(n_distinct_sets, 2) must stay under budget.
        budget_row = (
            sets.groupBy("source", "lbucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .agg(F.sum(F.expr("n * (n - 1) / 2")).cast("bigint").alias("pairs"))
            .collect()[0]
        )
        n_set_pairs = int(budget_row.pairs or 0)
        if n_set_pairs > _NGRAM_PAIR_BUDGET:
            raise RuntimeError(
                f"dedup_ngram_jaccard: {n_set_pairs} distinct-set pairs exceed "
                f"the stratum pair budget ({_NGRAM_PAIR_BUDGET}); the corpus's "
                "gram-set diversity makes the exact pair join quadratic -- use "
                "the banded dedup operators (minhash/simhash) at this scale"
            )
    except Exception:
        g.unpersist()
        if sets is not None:
            sets.unpersist()
        raise
    # (2) identical-set pairs: all C(k, 2) ordered pairs inside each
    # group, jacc = |A| / (|A| + |A| - |A|) = exactly 1.0. members is
    # sorted ascending so a < b positionally.
    within = (
        sets.where(F.size("members") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, size(members) - 1), "
                    "i -> transform(slice(members, i + 1, size(members) - i), "
                    "y -> struct(element_at(members, i) AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select(
            F.col("p.a").alias("doc_a"),
            F.col("p.b").alias("doc_b"),
            F.lit(1.0).alias("jacc"),
        )
    )
    # (3) cross-set pairs through the triangular grid. The explicit
    # repartition on the full equi-key is exempt from AQE
    # byte-coalescing (the pair stage is CPU-bound over a few MB) and
    # is reused by both self-join sides.
    B = _NGRAM_GRID_B
    cells = sets.withColumn(
        "cell",
        F.explode(
            F.expr(
                f"transform(sequence(0, {B - 1}), "
                "s -> struct(least(blk, CAST(s AS INT)) AS p, "
                "greatest(blk, CAST(s AS INT)) AS q))"
            )
        ),
    ).repartition(n_parts, "source", "lbucket", "cell")
    a, b = cells.alias("a"), cells.alias("b")
    inter_col = None
    for c in mask_cols:
        t = F.bit_count(F.col(f"a.{c}").bitwiseAND(F.col(f"b.{c}")))
        inter_col = t if inter_col is None else inter_col + t
    inter = inter_col.cast("int")
    union_n = F.col("a.sz") + F.col("b.sz") - inter
    jacc = inter.cast("double") / union_n
    pair_sets = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.lbucket") == F.col("b.lbucket"))
            & (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.set_id") < F.col("b.set_id")),
        )
        .where(
            (F.col("a.blk") != F.col("b.blk"))
            | ((F.col("a.cell.p") == F.col("a.blk"))
               & (F.col("a.cell.q") == F.col("a.blk")))
        )
        .where(jacc >= 0.55)
        .select(
            F.col("a.members").alias("ma"),
            F.col("b.members").alias("mb"),
            F.round(jacc, 6).alias("jacc"),
        )
    )
    # Expansion back to doc pairs is output-bound.
    cross = (
        pair_sets.select(F.explode("ma").alias("da"), "mb", "jacc")
        .select("da", F.explode("mb").alias("db"), "jacc")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jacc",
        )
    )
    return scope_caches(within.unionByName(cross), g, sets)


# ---------------------------------------------------------------------------
# 5. Embedding-cosine near-dedup
# ---------------------------------------------------------------------------

_SPARK_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
    "0D, (acc, v) -> acc + v)"
)


def _spark_cosine(a: str, b: str):
    dot = F.expr(_SPARK_DOT.format(a=a, b=b))
    na = F.sqrt(F.expr(_SPARK_DOT.format(a=a, b=a)))
    nb = F.sqrt(F.expr(_SPARK_DOT.format(a=b, b=b)))
    return dot / (na * nb)


_DUCK_DOT = "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
_DUCK_COSINE = (
    f"({_DUCK_DOT.format(a='{a}', b='{b}')} / "
    f"(sqrt({_DUCK_DOT.format(a='{a}', b='{a}')}) * sqrt({_DUCK_DOT.format(a='{b}', b='{b}')})))"
)


def augmented_embeddings(spark, sf_dir) -> DataFrame:
    """embeddings + scaled copies (vec_id + 100000, embedding × 1.5) —
    scaled vectors have cosine 1.0 with their original, giving the near-dup
    queries deterministic positives."""
    e = load(spark, sf_dir, "embeddings")["embeddings"]
    scaled = e.where(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.expr("transform(embedding, x -> cast(x as double) * 1.5d)").alias("embedding"),
        "label",
    )
    base = e.select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"), "label"
    )
    # same split-starvation fix as augmented_documents
    return base.union(scaled).repartition(spark.sparkContext.defaultParallelism, "vec_id")


DUCK_AUG_EMB = """
emb AS (
    SELECT vec_id, embedding::DOUBLE[] AS embedding, label FROM embeddings
    UNION ALL
    SELECT vec_id + 100000 AS vec_id,
           list_transform(embedding::DOUBLE[], x -> x * 1.5) AS embedding, label
    FROM embeddings WHERE vec_id % 7 = 0
)
"""

# Sign-LSH bucket (random-hyperplane LSH degenerated to axis hyperplanes):
# the sign pattern of the first 8 dimensions → 256 buckets. Defined here
# (not in similarity.py, which imports from this module) and shared by both.
# Scaling a vector by a positive constant preserves every sign, so the
# synthetic ×1.5 near-duplicates always land in their original's bucket.
_SPARK_SIGN_BUCKET = (
    "aggregate(sequence(1, 8), 0L, (acc, i) -> acc + "
    "CASE WHEN element_at(embedding, i) >= 0d THEN shiftleft(1L, i - 1) ELSE 0L END)"
)
_DUCK_SIGN_BUCKET = (
    "list_aggregate(list_transform(generate_series(1, 8), i -> "
    "CASE WHEN embedding[i] >= 0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END), 'sum')"
)


@register(
    "dedup_embedding_cosine",
    f"""
    WITH {DUCK_AUG_EMB},
    embb AS (SELECT vec_id, embedding, label, {_DUCK_SIGN_BUCKET} AS bucket FROM emb)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_DUCK_COSINE.format(a='a.embedding', b='b.embedding')}, 6) AS cos_sim
    FROM embb a JOIN embb b
      ON a.label = b.label AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_DUCK_COSINE.format(a='a.embedding', b='b.embedding')} >= 0.9
    """,
    "dedup",
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup via cosine, bounded candidate generation.

    Candidates are generated inside (label, sign-LSH bucket) — the extra
    bucket key bounds within-label pair counts (a hot label alone would go
    quadratic at corpus scale; the 8-bit sign bucket divides its expected
    pair count by ~256, and more hyperplane bits are the scale knob).
    High-cosine pairs agree on most hyperplane signs, so recall loss is the
    standard LSH trade — and the oracle applies the identical bucketing.
    """
    emb = augmented_embeddings(spark, sf_dir).withColumn(
        "bucket", F.expr(_SPARK_SIGN_BUCKET)
    )
    a, b = emb.alias("a"), emb.alias("b")
    cos = _spark_cosine("a.embedding", "b.embedding")
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(cos >= 0.9)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
    )


@register(
    "dedup_incremental_novel",
    f"""
    WITH {DUCK_AUG},
    hist AS (SELECT DISTINCT md5(text) AS fp FROM aug WHERE doc_id % 4 != 0),
    batch AS (SELECT doc_id, md5(text) AS fp, length(text) AS tlen
              FROM aug WHERE doc_id % 4 = 0)
    SELECT b.doc_id, b.tlen FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = b.fp)
    """,
    "dedup",
)
def dedup_incremental_novel(spark, sf_dir):
    """Incremental (daily-ingest) dedup: admit only the documents of a new
    batch whose content fingerprint has never been seen in the historical
    corpus. This is how dedup actually runs in production — the full-corpus
    pair search happens once; every ingest after that is one ANTI JOIN of
    the batch against the fingerprint ARCHIVE.

    Scale shape: the archive side is fingerprints only (16-byte md5 keys,
    not documents), so the anti-join shuffles batch_size + |archive| keys —
    or zero archive shuffle if the archive table is bucketed by fp
    (sources/bucketing.py). A bloom filter on the archive is the
    probabilistic pre-filter upgrade when even the key shuffle is too much.
    The historical/batch split here (doc_id % 4) stands in for the
    date-partitioned archive a real pipeline reads.
    """
    aug = augmented_documents(spark, sf_dir)
    hist = (
        aug.where(F.col("doc_id") % 4 != 0)
        .select(F.md5("text").alias("fp"))
        .distinct()
    )
    batch = aug.where(F.col("doc_id") % 4 == 0).select(
        "doc_id", F.md5("text").alias("fp"), F.length("text").alias("tlen")
    )
    return batch.join(hist, "fp", "left_anti").select("doc_id", "tlen")


@register(
    "dedup_cluster_keep_best",
    f"""
    WITH RECURSIVE {_DUCK_MINHASH_CTES},
    und AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs),
    reach(node, r) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM und)
        UNION
        SELECT u.a, reach.r FROM und u JOIN reach ON u.b = reach.node),
    labels AS (
        SELECT node, MIN(r) AS component FROM reach GROUP BY node),
    quality AS (
        SELECT doc_id, len({_DUCK_TOKS}) AS n_toks FROM aug),
    ranked AS (
        SELECT component, node, n_toks,
               ROW_NUMBER() OVER (PARTITION BY component
                                  ORDER BY n_toks DESC, node) AS rnk
        FROM labels JOIN quality ON labels.node = quality.doc_id)
    SELECT component, node AS keeper, CAST(n_toks AS INT) AS keeper_toks,
           (SELECT COUNT(*) FROM labels l2
            WHERE l2.component = ranked.component) AS n_docs
    FROM ranked WHERE rnk = 1
    """,
    "dedup",
    "bench",
)
def dedup_cluster_keep_best(spark, sf_dir):
    """Keeper SELECTION policy on top of duplicate-cluster resolution: real
    pipelines keep the highest-QUALITY member of each near-dup cluster (the
    un-truncated original, the longer crawl capture), not the min doc_id.
    Labels come from the same HashMin fixpoint as `dedup_components`; the
    keeper is argmax(token count, tie-break doc_id) per cluster via one
    window pass over the labeled nodes — the cluster labeling shuffles the
    PAIR GRAPH only, and the quality join touches each clustered doc once.
    """
    # Same shape as dedup_components: checkpoint the one-sided pair list
    # once (the union form executed the lsh verify pipeline twice), then
    # expand both arc directions in a single explode pass.
    lsh = dedup_minhash_lsh(spark, sf_dir)
    pairs = lsh.select("doc_a", "doc_b").localCheckpoint()
    del lsh
    n_edges = 2 * pairs.count()
    npart = max(1, -(-n_edges // 2_000_000))
    und = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition(npart, "dst")
        .localCheckpoint()
    )
    del pairs
    labels, _ = _propagate_min_labels(spark, und, npart)
    quality = augmented_documents(spark, sf_dir).select(
        "doc_id", F.expr(f"size({_SPARK_TOKS})").alias("n_toks")
    )
    sizes = labels.groupBy("comp").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("comp").orderBy(F.col("n_toks").desc(), "node")
    return (
        labels.join(quality, labels["node"] == quality["doc_id"])
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .join(sizes, "comp")
        .select(
            F.col("comp").alias("component"),
            F.col("node").alias("keeper"),
            F.col("n_toks").cast("int").alias("keeper_toks"),
            "n_docs",
        )
    )


# Winnowing for CROSS-document overlap needs document-RARE fingerprints:
# k=24-char grams (vs the per-doc profiling k=5 in operators.text — at k=5
# every document pair shares common grams and the candidate join goes
# quadratic; measured 146k pairs on a 545-doc corpus). w=16 keeps ~1/16 of
# grams as fingerprints.
_WK, _WW = 24, 16
_SPARK_WKGRAMS = (
    f"transform(sequence(1, length(text) - {_WK - 1}),"
    f" i -> cast(conv(substr(md5(substr(text, i, {_WK})), 1, 8), 16, 10) as bigint))"
)
_DUCK_WKGRAMS = (
    f"list_transform(generate_series(1, length(text) - {_WK - 1}),"
    f" i -> ('0x' || substr(md5(substr(text, i, {_WK})), 1, 8))::BIGINT)"
)
_SPARK_WWINNOW = (
    f"array_distinct(transform(sequence(1, size(h) - {_WW - 1}),"
    f" i -> array_min(slice(h, i, {_WW}))))"
)


def _winnow_fps_udf():
    """Arrow-batched winnow kernel: per doc, hash every {_WK}-char gram
    (md5 first 4 bytes big-endian == the SQL's conv(substr(md5hex,1,8),
    16,10)) and take the distinct sliding-window minima — numpy
    stride-tricks O(n) memory, vs the HOF form's per-position
    slice+array_min that allocates 2.6M length-{_WW} arrays at sf0.1
    (measured 5.5 s of the query's 6.5 s; this kernel does the same
    work in ~2 s). Grams are CHARACTER windows (the Spark/DuckDB substr
    contract): ASCII docs take the byte-slide fast path (byte windows
    == char windows), anything multi-byte falls back to per-character
    slicing so the fingerprint set stays identical to the SQL form."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    K, W = _WK, _WW

    # module has `from __future__ import annotations`, which stringifies
    # type hints and breaks pandas_udf's signature inference — attach
    # real annotation objects and wrap manually
    def winnow_fps(texts):
        out = []
        for t in texts:
            b = t.encode("utf-8")
            if len(b) == len(t):  # pure ASCII: byte windows == char
                n = len(b) - K + 1
                grams = (b[i:i + K] for i in range(max(n, 0)))
            else:
                n = len(t) - K + 1
                grams = (t[i:i + K].encode("utf-8")
                         for i in range(max(n, 0)))
            if n < W:
                out.append([])
                continue
            hs = np.fromiter(
                (int.from_bytes(hashlib.md5(g).digest()[:4], "big")
                 for g in grams),
                dtype=np.int64, count=n,
            )
            sw = np.lib.stride_tricks.sliding_window_view(hs, W).min(axis=1)
            out.append(np.unique(sw).tolist())
        return pd.Series(out)

    winnow_fps.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf("array<long>")(winnow_fps)
_DUCK_WWINNOW = (
    f"list_distinct(list_transform(generate_series(1, len(h) - {_WW - 1}),"
    f" i -> list_aggregate(h[i:i + {_WW - 1}], 'min')))"
)


#: Winnowing fingerprint doc-frequency cap (standard MOSS practice): a
#: fingerprint appearing in more than this many documents is boilerplate
#: (license headers, navigation chrome) and is dropped BEFORE the pair
#: join — one hot key in a 100 TB crawl would otherwise emit ~df² pairs.
_WDF_CAP = 50


def _winnow_pairs(fps, cap=_WDF_CAP):
    """(doc_id, f) exploded fingerprints → (doc_a, doc_b, shared_fps) pair
    counts, with hot fingerprints (doc-frequency > cap) removed before the
    self-equi-join. The hot set is tiny by construction (only
    boilerplate-grade keys exceed the cap), so it broadcasts and the
    corpus-sized fingerprint stream is filtered map-side."""
    hot = (
        fps.groupBy("f")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > cap)
        .select("f")
    )
    kept = fps.join(F.broadcast(hot), "f", "left_anti")
    a = kept.select(F.col("doc_id").alias("doc_a"), "f")
    b = kept.select(F.col("doc_id").alias("doc_b"), "f")
    return (
        a.join(b, "f")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("int").alias("shared_fps"))
        .where(F.col("shared_fps") >= 2)
    )


@register(
    "dedup_winnow_overlap",
    f"""
    WITH h AS (SELECT doc_id, {_DUCK_WKGRAMS} AS h
               FROM (SELECT doc_id, text FROM documents
                     UNION ALL
                     SELECT -doc_id - 1, substr(text, 1, 80) || ' tail'
                     FROM documents WHERE doc_id % 11 = 0 AND length(text) >= 80)
               WHERE length(text) >= {_WK + _WW}),
    w AS (SELECT doc_id, {_DUCK_WWINNOW} AS fps FROM h),
    fp AS (SELECT doc_id, unnest(fps) AS f FROM w),
    qual AS (SELECT f FROM fp GROUP BY f HAVING COUNT(*) <= {_WDF_CAP}),
    fpq AS (SELECT fp.doc_id, fp.f FROM fp JOIN qual USING (f))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS INT) AS shared_fps
    FROM fpq a JOIN fpq b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 2
    """,
    "dedup",
    "bench",
)
def dedup_winnow_overlap(spark, sf_dir):
    """LOCALIZED-overlap detection (plagiarism / quote-chain shape) via
    winnowing fingerprints (Schleimer et al., MOSS): documents sharing >=2
    selected 24-char-gram fingerprints are flagged even when whole-document
    similarity is tiny — the case minhash misses by design (an 80-char
    excerpt inside an otherwise different document; the augmentation plants
    exactly those). k is deliberately larger than operators.text's per-doc
    profiling k=5: cross-document matching needs grams rare enough that the
    fingerprint equi-join stays bucketed (k=5 measured 146k candidate pairs
    on a 545-doc corpus — quadratic; k=24 only pairs documents that truly
    share a 24-char span). Winnowing keeps ~1/w of grams, so the join
    input is a small fraction of corpus characters. Fingerprints with
    doc-frequency above ``_WDF_CAP`` are dropped before the pair join
    (broadcast anti-join): million-fold-repeated boilerplate in a real
    crawl would otherwise turn one hot key into ~df² candidate pairs.
    """
    d = load(spark, sf_dir, "documents")["documents"].select("doc_id", "text")
    excerpts = d.where(
        (F.col("doc_id") % 11 == 0) & (F.length("text") >= 80)
    ).select(
        (-F.col("doc_id") - 1).alias("doc_id"),
        F.concat(F.substring("text", 1, 80), F.lit(" tail")).alias("text"),
    )
    aug = d.union(excerpts).where(F.length("text") >= _WK + _WW)
    # Gate-repartition before the Arrow kernel (guide §2.5 input skew /
    # the dedup_cdc_chunks lesson): the single-file corpus yields ONE
    # input split per union branch, so the per-doc winnow kernel — the
    # query's dominant CPU — ran on ~2 cores. Same split-starvation gate
    # as augmented_documents; a multi-TB table keeps its natural splits.
    n_parts = spark.sparkContext.defaultParallelism
    if _estimated_splits(spark, f"{sf_dir}/documents.parquet") < n_parts:
        aug = aug.repartition(n_parts, "doc_id")
    # Fingerprints come from the Arrow-batched kernel (_winnow_fps_udf):
    # same md5-derived values and window minima as the _SPARK_WKGRAMS /
    # _SPARK_WWINNOW HOF exprs (kept above as the pure-JVM reference
    # form), ~2x faster end-to-end because the HOF form allocates a
    # w-length array per text position. Persisted because _winnow_pairs
    # consumes the stream THREE times (doc-frequency aggregate + both
    # self-join sides); recomputing per consumer measured +63% on the
    # bench when the df-cap branch was added.
    fps = (
        aug.select(
            "doc_id", F.explode(_winnow_fps_udf()("text")).alias("f")
        )
        .persist()
    )
    return scope_caches(_winnow_pairs(fps), fps)


# ---------------------------------------------------------------------------
# Exact duplicated-substring spans (round 9): the exact-substring dedup
# method of Lee et al. 2022 ("Deduplicating Training Data Makes Language
# Models Better"), re-expressed relationally. Every length-L character
# window of every document is hashed; windows whose hash occurs in more
# than one document are flagged, and per document the flagged positions
# are merged into MAXIMAL duplicated spans (interval union). Winnow
# (MOSS) SAMPLES fingerprints and reports doc pairs; this reports the
# exact duplicated character ranges — the thing you delete before
# training. L=24 chars.
# ---------------------------------------------------------------------------

_ESUB_L = 24


@register(
    "dedup_exact_substring_spans",
    f"""
    WITH g AS (
      SELECT doc_id, pos, md5(substr(text, pos, {_ESUB_L})) AS h
      FROM documents, LATERAL (
        SELECT unnest(generate_series(
            1, greatest(length(text) - {_ESUB_L} + 1, 0))) AS pos) t),
    dup AS (
      SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
    f AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
    lg AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos, 1, pos - {_ESUB_L} - 1)
                        OVER (PARTITION BY doc_id ORDER BY pos)
                       > {_ESUB_L}
                  THEN 1 ELSE 0 END AS brk
      FROM f),
    isl AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM lg),
    sp AS (
      SELECT doc_id, grp, MIN(pos) AS s,
             MAX(pos) + {_ESUB_L} - 1 AS e
      FROM isl GROUP BY doc_id, grp)
    SELECT sp.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
           CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars,
           CAST(SUM(e - s + 1) AS DOUBLE) / MAX(length(d.text)) AS dup_frac
    FROM sp JOIN documents d ON sp.doc_id = d.doc_id
    GROUP BY sp.doc_id
    """,
    "dedup",
    "bench",
)
def dedup_exact_substring_spans(spark, sf_dir):
    """Exact duplicated-substring spans per document — the exact-match
    dedup method of Lee et al. 2022 (arXiv:2107.06499), relationally:
    hash every L=24-char window, keep hashes seen in >1 distinct doc,
    merge flagged positions into maximal spans (interval union via the
    lag-break/running-sum island idiom), report per-doc span count,
    duplicated chars, and duplicated fraction.

    Scale posture — LINEAR, unlike pairwise dedup: the gram stage is a
    row-local explode (map-only), and cross-doc sharing is decided by
    ONE exchange on the window hash (min(doc_id) != max(doc_id) over an
    h-window — no countDistinct expand, no join back, grams flow
    through once). Flagged output is positions — never doc pairs, so
    boilerplate shared by 10k documents costs 10k rows, not 10k^2 (the
    blowup _winnow_pairs needs a df cap to avoid). The span merge and
    per-doc rollup share one doc_id partitioning. Text-sized shuffle
    is intrinsic to the exact method (the suffix-array formulation is
    O(n) too); the knob at 100 TB is the window length L, not the
    algorithm shape."""
    from ..partitioning import spread

    d = load(spark, sf_dir, "documents")["documents"]
    L = _ESUB_L
    # gate-repartition before the window explode: hashing every 24-char
    # window of every document is the query's dominant CPU and would
    # otherwise run inside the single-task scan stage (the final
    # doc-length join keeps reading the plain scan — it is
    # broadcast-sized and needs no spreading)
    ds = spread(spark, d, sf_dir, "documents", "doc_id")
    grams = ds.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN length(text) >= {L} THEN "
                f"sequence(1, length(text) - {L} + 1) "
                "ELSE array() END"
            )
        ).alias("pos"),
        "text",
    ).select(
        "doc_id", "pos",
        # h is an INTERNAL grouping key (never output): unhex packs the
        # 32-hex-char md5 into 16 bytes — a bijection, so the h-windows
        # are identical — halving the bytes through the Exchange and the
        # per-row comparison width of the window sort (guide §2.3,
        # narrower types)
        F.unhex(F.md5(F.expr(f"substr(text, pos, {L})"))).alias("h"),
    )
    wh = Window.partitionBy("h")
    flagged = (
        grams.withColumn("_mn", F.min("doc_id").over(wh))
        .withColumn("_mx", F.max("doc_id").over(wh))
        .where(F.col("_mn") != F.col("_mx"))
        .select("doc_id", "pos")
    )
    wlag = Window.partitionBy("doc_id").orderBy("pos")
    wrun = wlag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    isl = flagged.withColumn(
        "brk",
        F.when(
            F.col("pos")
            - F.coalesce(F.lag("pos", 1).over(wlag),
                         F.col("pos") - F.lit(L + 1))
            > L,
            1,
        ).otherwise(0),
    ).withColumn("grp", F.sum("brk").over(wrun))
    spans = isl.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + F.lit(L - 1)).alias("e"),
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
            F.sum(F.col("e") - F.col("s") + 1).cast("long")
            .alias("dup_chars"),
            F.sum(F.col("e") - F.col("s") + 1).cast("double")
            .alias("_dc"),
        )
        .join(d.select("doc_id", F.length("text").alias("_len")), "doc_id")
        .select(
            "doc_id", "n_dup_spans", "dup_chars",
            (F.col("_dc") / F.col("_len")).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# SemDeDup (round 9): semantic deduplication in embedding space — Abbas
# et al. 2023 (arXiv:2303.09540). Cluster the corpus with the trained
# coarse codebook, call two vectors semantic duplicates when their
# within-cluster cosine exceeds eps, and keep the duplicate-group member
# with the LOWEST similarity to its cluster centroid (the paper's
# criterion: the least-prototypical copy carries the most residual
# information). Composes the repo's IVF primitives: per-label centroid
# codebook + broadcast nearest-centroid assignment + within-cell
# equi-join — never all-pairs across cells.
# ---------------------------------------------------------------------------

_SEMDEDUP_EPS = "0.3"

_SEMDEDUP_ORACLE = f"""
    WITH cents AS (
        SELECT label, CAST(i - 1 AS INT) AS pos,
               (CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1e9) AS BIGINT)) AS DOUBLE)
               / COUNT(*)) / 1e9 AS c
        FROM (SELECT label,
                     unnest(generate_series(1, len(embedding))) AS i,
                     unnest(embedding) AS v
              FROM embeddings)
        GROUP BY label, i),
    carr AS (
        SELECT label AS cent_label, list(c ORDER BY pos) AS cvec
        FROM cents GROUP BY label),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
    asg AS (
        SELECT vec_id, embedding, cent_label AS cell, sim AS cell_sim
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY sim DESC, cent_label) AS rn
            FROM (SELECT e.vec_id, e.embedding, carr.cent_label,
                         ROUND({{cos_assign}}, 6) AS sim
                  FROM e CROSS JOIN carr) s) t
        WHERE rn = 1),
    dropped AS (
        SELECT DISTINCT v.vec_id
        FROM asg v JOIN asg u
          ON v.cell = u.cell AND v.vec_id != u.vec_id
        WHERE ROUND({{cos_pair}}, 6) >= {_SEMDEDUP_EPS}
          AND (u.cell_sim < v.cell_sim
               OR (u.cell_sim = v.cell_sim AND u.vec_id < v.vec_id)))
    SELECT a.vec_id, CAST(a.cell AS INT) AS cell, a.cell_sim,
           d.vec_id IS NULL AS keep
    FROM asg a LEFT JOIN dropped d ON a.vec_id = d.vec_id
"""


@register(
    "dedup_semantic_semdedup",
    _SEMDEDUP_ORACLE.format(
        cos_assign=_DUCK_COSINE.format(a="e.embedding", b="carr.cvec"),
        cos_pair=_DUCK_COSINE.format(a="v.embedding", b="u.embedding"),
    ),
    "dedup", "similarity", "bench",
)
def dedup_semantic_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pruning in
    embedding space. Vectors are assigned to their nearest trained
    centroid (the IVF coarse codebook built from per-label centroids);
    within a cell, a vector is DROPPED when some cell-mate with cosine
    >= 0.3 has a strictly lower (centroid-similarity, vec_id) key — the
    paper's keep-the-least-prototypical rule, applied as a pairwise
    domination witness (the transitive-closure variant is
    dedup_components' job). Output: every vector with its cell,
    centroid similarity, and keep flag.

    Scale shape: codebook broadcast + map-side assignment (zero corpus
    shuffle), then ONE equi-join on (cell, u-block) — candidate pairs
    are quadratic only within a cell, the codebook size is the knob
    that bounds cell population at 100 TB (exactly the IVF trade-off
    ann_ivf_trained documents), and the B-way grid split keeps a hot
    cell from serializing onto one task (r16 audit; see inline
    comment). Similarities are rounded to 6 places
    and ties broken on vec_id, so the drop set is deterministic and the
    DuckDB oracle compares bit-exact."""
    from pyspark.sql.functions import broadcast

    from .similarity import _emb, _spark_cosine, embedding_centroids

    eps = float(_SEMDEDUP_EPS)
    emb = _emb(spark, sf_dir)
    cents = embedding_centroids(spark, sf_dir)
    carr = (
        cents.groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "centroid")))
            .alias("pc")
        )
        .select(
            F.col("label").alias("cent_label"),
            F.expr("transform(pc, x -> x.centroid)").alias("cvec"),
        )
    )
    asg = (
        emb.crossJoin(broadcast(carr))
        .select(
            "vec_id", "embedding", "cent_label",
            F.round(_spark_cosine("embedding", "cvec"), 6).alias("sim"),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct(
                    F.col("cent_label").alias("cell"),
                    F.col("embedding"),
                    F.col("sim").alias("cell_sim"),
                ),
                F.struct(F.col("sim"), -F.col("cent_label")),
            ).alias("b")
        )
        .select(
            "vec_id", F.col("b.cell").alias("cell"),
            F.col("b.embedding").alias("embedding"),
            F.col("b.cell_sim").alias("cell_sim"),
        )
        .persist()
    )
    # asg feeds THREE consumers (both self-join sides + the final keep
    # join); unpersisted, each re-ran the broadcast-codebook assignment
    # crossJoin with its interpreted HOF cosines. Eager count per the
    # AQE lazy-cache race lesson.
    asg.count()
    # The r16 per-stage audit found the real cost: the within-cell pair
    # stage (every pair cosine = 3 interpreted HOF aggregates over the
    # 64-dim arrays) ran on ONE task — asg's groupBy output is a few MB,
    # AQE byte-coalesces it to a single partition, and the pair join
    # inherits that parallelism (byte-blind coalescing over a CPU-bound
    # stage, the dedup_cdc_chunks lesson). Spread the quadratic
    # within-cell work with the ngram-jaccard grid-block pattern: each
    # build row lands in ONE u-block (hash of vec_id), the probe side
    # replicates to all B blocks, and the join key (cell, ublk) splits
    # every cell's pair mass across B tasks — a hot cell can no longer
    # serialize, and the explicit repartition is exempt from AQE byte
    # coalescing. The ordered-pair semantics (v dominated BY u) need the
    # full B×B spread, hence probe-side replication rather than the
    # triangular grid. 6.8 -> ~2 s warm at sf0.1 under the sweep's noop
    # protocol; at 100 TB the B× probe duplication is one shuffle,
    # bounded, and the cell count (the IVF codebook knob) carries the
    # rest of the parallelism.
    B = 8
    n_parts = 2 * spark.sparkContext.defaultParallelism
    v = (
        asg.withColumn(
            "ublk", F.explode(F.expr(f"sequence(0, {B - 1})"))
        )
        .repartition(n_parts, "cell", "ublk")
        .select(
            F.col("vec_id").alias("v_id"), F.col("cell").alias("v_cell"),
            F.col("embedding").alias("v_e"), F.col("cell_sim").alias("v_cs"),
            "ublk",
        )
    )
    u = asg.withColumn(
        "ublk", F.pmod(F.xxhash64("vec_id"), F.lit(B)).cast("int")
    ).select(
        F.col("vec_id").alias("u_id"), F.col("cell").alias("u_cell"),
        F.col("embedding").alias("u_e"), F.col("cell_sim").alias("u_cs"),
        F.col("ublk").alias("ublk_u"),
    )
    dropped = (
        v.join(
            u,
            (F.col("v_cell") == F.col("u_cell"))
            & (F.col("ublk") == F.col("ublk_u")),
        )
        .where(F.col("v_id") != F.col("u_id"))
        .where(F.round(_spark_cosine("v_e", "u_e"), 6) >= eps)
        .where(
            (F.col("u_cs") < F.col("v_cs"))
            | ((F.col("u_cs") == F.col("v_cs"))
               & (F.col("u_id") < F.col("v_id")))
        )
        .select(F.col("v_id").alias("vec_id"))
        .distinct()
    )
    return (
        scope_caches(
            asg.join(dropped.withColumn("_d", F.lit(1)), "vec_id", "left")
            .select(
                "vec_id",
                F.col("cell").cast("int").alias("cell"),
                "cell_sim",
                F.col("_d").isNull().alias("keep"),
            ),
            asg,
        )
    )


# ---------------------------------------------------------------------------
# 9. Incremental NEAR-dup admission (the minhash analog of
#    dedup_incremental_novel): the archive's minhash band buckets are the
#    standing index; each ingest batch probes it with a band equi-join,
#    verifies candidates with exact Jaccard, and admits only batch docs
#    with no >=0.6 match in the archive.
# ---------------------------------------------------------------------------

_INC_MH_BANDS_DUCK = " UNION ALL ".join(
    f"SELECT doc_id, {band} AS band_id, concat_ws(',', mh{band * 4}, "
    f"mh{band * 4 + 1}, mh{band * 4 + 2}, mh{band * 4 + 3}) AS bkey FROM sig"
    for band in range(4)
)


@register(
    "dedup_incremental_minhash",
    f"""
    WITH {DUCK_AUG},
    sets AS (
        SELECT doc_id, shingles FROM (
            SELECT doc_id, {_DUCK_SHINGLES} AS shingles
            FROM (SELECT doc_id, {_DUCK_TOKS} AS toks FROM aug))
        WHERE len(shingles) > 0),
    hashed AS (
        SELECT doc_id, {_DUCK_H32} AS h
        FROM (SELECT doc_id, unnest(shingles) AS sh FROM sets)),
    sig AS (
        SELECT doc_id,
        {','.join(f'MIN(({a} * h + {b}) % {MINHASH_P}) AS mh{j}' for j, (a, b) in enumerate(MINHASH_AB))}
        FROM hashed GROUP BY doc_id),
    bands AS ({_INC_MH_BANDS_DUCK}),
    cand AS (
        SELECT DISTINCT a.doc_id AS batch_doc, b.doc_id AS arch_doc
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.bkey = b.bkey
        WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 != 0),
    dups AS (
        SELECT DISTINCT batch_doc
        FROM cand JOIN sets sa ON cand.batch_doc = sa.doc_id
                  JOIN sets sb ON cand.arch_doc = sb.doc_id
        WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
              / (len(sa.shingles) + len(sb.shingles)
                 - len(list_intersect(sa.shingles, sb.shingles))) >= 0.6)
    SELECT a.doc_id, CAST(length(a.text) AS INT) AS tlen
    FROM aug a
    WHERE a.doc_id % 4 = 0
      AND NOT EXISTS (SELECT 1 FROM dups d WHERE d.batch_doc = a.doc_id)
    """,
    "dedup",
)
def dedup_incremental_minhash(spark, sf_dir):
    """Incremental near-dup admission against a standing minhash index.

    Production shape: the archive's (band_id, bkey, doc_id) table is
    written once and bucketed by (band_id, bkey); each daily batch
    computes signatures row-locally (minhash_signatures: no shuffle), so
    the probe is ONE equi-join of batch-band rows against the bucketed
    index plus a verify join against archive shingle sets — ingest cost
    scales with the batch, never the archive. The doc_id % 4 split stands
    in for the date-partitioned archive, as in dedup_incremental_novel.
    """
    sets, sig = minhash_signatures(spark, sf_dir)
    stack_args = ", ".join(
        f"{band}, concat_ws(',', mh{band * 4}, mh{band * 4 + 1}, "
        f"mh{band * 4 + 2}, mh{band * 4 + 3})"
        for band in range(4)
    )
    # band/candidate shuffles sized to pair scale (dedup_minhash_lsh note)
    npart = max(1, -(-4 * sig.count() // 2_000_000))
    bands = sig.select(
        "doc_id", F.expr(f"stack(4, {stack_args})").alias("band_id", "bkey")
    ).repartition(npart, "band_id", "bkey")
    cand = (
        bands.where(F.col("doc_id") % 4 == 0).alias("a")
        .join(
            bands.where(F.col("doc_id") % 4 != 0).alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bkey") == F.col("b.bkey")),
        )
        .select(F.col("a.doc_id").alias("batch_doc"), F.col("b.doc_id").alias("arch_doc"))
        .repartition(npart, "batch_doc", "arch_doc")
        .distinct()
    )
    inter = F.size(F.array_intersect(F.col("sa.shingles"), F.col("sb.shingles")))
    union_n = F.size("sa.shingles") + F.size("sb.shingles") - inter
    jacc = inter.cast("double") / union_n
    dups = (
        cand.join(sets.alias("sa"), F.col("batch_doc") == F.col("sa.doc_id"))
        .join(sets.alias("sb"), F.col("arch_doc") == F.col("sb.doc_id"))
        .where(jacc >= 0.6)
        .select("batch_doc")
        .distinct()
    )
    batch = augmented_documents(spark, sf_dir).where(F.col("doc_id") % 4 == 0)
    novel = (
        batch.join(dups, batch.doc_id == dups.batch_doc, "left_anti")
        .select("doc_id", F.length("text").cast("int").alias("tlen"))
    )
    return scope_caches(novel, sets, sig)


# ---------------------------------------------------------------------------
# 10. Corpus dedup diagnostics: duplicate n-gram mass per source — the
#     number dedup teams actually watch ("what fraction of our tokens is
#     repeated content, and which source is contributing it"). Lee et al.
#     2022 report exactly this corpus-level statistic to motivate dedup.
# ---------------------------------------------------------------------------

_NGRAM_N = 8


@register(
    "dedup_ngram_coverage",
    rf"""
    WITH t AS (SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id, source,
                 unnest(list_transform(range(1, len(toks) - {_NGRAM_N - 2}),
                        i -> md5(array_to_string(toks[i:i+{_NGRAM_N - 1}], ' ')))) AS fp
          FROM t WHERE len(toks) >= {_NGRAM_N}),
    df AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS c,
                  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS ndoc
           FROM g GROUP BY fp)
    SELECT g.source,
           CAST(COUNT(*) AS BIGINT) AS total_grams,
           CAST(COUNT(*) FILTER (WHERE df.c > 1) AS BIGINT) AS dup_grams,
           CAST(COUNT(*) FILTER (WHERE df.ndoc > 1) AS BIGINT) AS cross_doc_grams,
           ROUND(CAST(COUNT(*) FILTER (WHERE df.c > 1) AS DOUBLE)
                 / COUNT(*), 6) AS dup_frac,
           ROUND(CAST(COUNT(*) FILTER (WHERE df.ndoc > 1) AS DOUBLE)
                 / COUNT(*), 6) AS cross_doc_frac
    FROM g JOIN df ON g.fp = df.fp
    GROUP BY g.source
    """,
    "dedup",
    "text",
)
def dedup_ngram_coverage(spark, sf_dir):
    """Duplicate 8-gram mass per source (corpus dedup diagnostics).

    An occurrence is 'dup' if its fingerprint appears more than once
    corpus-wide, 'cross-doc' if it appears in more than one document —
    the per-source fractions tell a curation team which ingest source is
    shipping repeated content before any dedup runs.

    Scale: one row-local fingerprint projection (md5 of each 8-token
    window), one groupBy(fp) with map-side partials for the DF table,
    one fp-keyed join back (both sides gram-scale, equi-join), one tiny
    groupBy(source). The gram stream is never collected or broadcast.
    """
    d = load(spark, sf_dir, "documents")["documents"]
    # persist barrier: the fingerprint array feeds explode (Generate
    # re-evaluates fused generator inputs per output row)
    # tokenize in its OWN projection: putting _SPARK_TOKS inline in the
    # window lambda re-tokenizes per window (the HOF inlining cost trap,
    # see stream_quality_gate / minhash_signatures)
    t = d.select(
        "doc_id", "source", F.expr(_SPARK_TOKS).alias("toks")
    ).where(F.size("toks") >= _NGRAM_N).select(
        "doc_id",
        "source",
        F.expr(
            f"transform(sequence(1, size(toks) - {_NGRAM_N - 1}), "
            f"i -> md5(concat_ws(' ', slice(toks, i, {_NGRAM_N}))))"
        ).alias("fps"),
    ).persist()
    g = t.select("doc_id", "source", F.explode("fps").alias("fp")).persist()
    df_t = g.groupBy("fp").agg(
        F.count("*").cast("bigint").alias("c"),
        F.countDistinct("doc_id").cast("bigint").alias("ndoc"),
    )
    joined = g.join(df_t, "fp")
    out = joined.groupBy("source").agg(
        F.count("*").cast("bigint").alias("total_grams"),
        F.count(F.when(F.col("c") > 1, 1)).cast("bigint").alias("dup_grams"),
        F.count(F.when(F.col("ndoc") > 1, 1)).cast("bigint").alias("cross_doc_grams"),
        F.round(
            F.count(F.when(F.col("c") > 1, 1)).cast("double") / F.count("*"), 6
        ).alias("dup_frac"),
        F.round(
            F.count(F.when(F.col("ndoc") > 1, 1)).cast("double") / F.count("*"), 6
        ).alias("cross_doc_frac"),
    )
    return scope_caches(out, t, g)


@register(
    "dedup_novelty_curve",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_distinct(list_transform(
                     range(1, len(toks) - {_NGRAM_N - 2}),
                     i -> md5(array_to_string(toks[i:i+{_NGRAM_N - 1}], ' ')))))
                     AS fp
          FROM t WHERE len(toks) >= {_NGRAM_N}),
    fs AS (SELECT fp, MIN(doc_id) AS first_doc FROM g GROUP BY fp)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (WHERE fs.first_doc = g.doc_id) AS BIGINT)
               AS n_novel,
           CAST(FLOOR(1e6 * (CAST(COUNT(*) FILTER (WHERE fs.first_doc = g.doc_id)
                                  AS DOUBLE)
                             / CAST(COUNT(*) AS DOUBLE))) AS BIGINT)
               AS novelty_q6
    FROM g JOIN fs USING (fp)
    GROUP BY g.doc_id
    """,
    "dedup",
    "llm-pipeline",
)
def dedup_novelty_curve(spark, sf_dir):
    """Per-document first-occurrence novelty in ingestion order (doc_id):
    for each doc, how many of its distinct 8-gram fingerprints appear
    here FIRST corpus-wide (min doc_id attribution). The resulting curve
    is the standard pre-dedup diagnostic for ordering and payoff — a
    corpus whose novelty ratio collapses early is paying storage and
    training compute for repeats, and the docs whose novelty_q6 ~ 0 are
    the removal candidates exact dedup misses when duplication is
    partial. Complements dedup_ngram_coverage (per-SOURCE dup mass; this
    is per-DOC temporal attribution).

    Exactness: n_grams/n_novel are exact BIGINTs at distinct
    (doc_id, fp) grain (array_distinct before the explode on both
    engines); novelty_q6 is the one-division floor-quantized ratio
    (the lm_bigram_score convention).

    Scale posture: row-local fingerprinting, one gram-grain groupBy for
    the first-seen table (MIN is map-side combinable), one fp-keyed
    equi-join back (both sides gram-scale, never broadcast — the gram
    universe grows with the corpus), one doc-grain aggregate. No
    collected or driver-side state."""
    d = load(spark, sf_dir, "documents")["documents"]
    t = (
        d.select("doc_id", F.expr(_SPARK_TOKS).alias("toks"))
        .where(F.size("toks") >= _NGRAM_N)
        .select(
            "doc_id",
            F.expr(
                f"array_distinct(transform(sequence(1, size(toks) - {_NGRAM_N - 1}), "
                f"i -> md5(concat_ws(' ', slice(toks, i, {_NGRAM_N})))))"
            ).alias("fps"),
        )
        .persist()
    )
    g = t.select("doc_id", F.explode("fps").alias("fp")).persist()
    fs = g.groupBy("fp").agg(F.min("doc_id").alias("first_doc"))
    novel = F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1)).cast(
        "bigint"
    )
    out = (
        g.join(fs, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            novel.alias("n_novel"),
            F.expr(
                "CAST(FLOOR(1e6 * (CAST(COUNT(IF(first_doc = doc_id, 1, NULL)) AS DOUBLE)"
                " / CAST(COUNT(*) AS DOUBLE))) AS BIGINT)"
            ).alias("novelty_q6"),
        )
    )
    return scope_caches(out, t, g)


# ---------------------------------------------------------------------------
# Round 10 — LSH index calibration: before trusting the minhash index at
# 100 TB, measure its ESTIMATOR against exact Jaccard on the candidate set
# it surfaces — per-pair matching-minhash fraction vs true shingle Jaccard
# and the absolute error. A drifting error distribution (e.g. after a
# shingle-width or hash-count change) is the index-quality alarm.
# ---------------------------------------------------------------------------


@register(
    "dedup_lsh_calibration",
    f"""
    WITH {_DUCK_MINHASH_CTES}
    SELECT p.doc_a, p.doc_b,
           ROUND(p.jacc, 6) AS jacc_exact,
           CAST(({' + '.join(f'CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END'
                              for j in range(16))}) AS INT) AS est_matches,
           ({' + '.join(f'CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END'
                        for j in range(16))}) / 16.0 AS jacc_est,
           CAST(FLOOR(1e6 * ABS(p.jacc -
               ({' + '.join(f'CASE WHEN a.mh{j} = b.mh{j} THEN 1 ELSE 0 END'
                            for j in range(16))}) / 16.0)) AS BIGINT) AS abs_err_q6
    FROM pairs p
    JOIN sig a ON p.doc_a = a.doc_id
    JOIN sig b ON p.doc_b = b.doc_id
    """,
    "dedup",
)
def dedup_lsh_calibration(spark, sf_dir):
    """MinHash estimator calibration over the LSH candidate pairs: the
    matching-signature fraction (the index's Jaccard ESTIMATE — an
    unbiased 16-sample estimator) against the exact shingle Jaccard the
    verify stage computes, with per-pair quantized absolute error. On a
    fixed corpus this distribution is the index's quality fingerprint;
    re-run it after any change to shingle width, hash count or banding
    to see what the change did to recall/precision BEFORE a full dedup.

    Exactness: both estimate (k/16) and exact Jaccard are single IEEE
    divisions of exact integers; the error is quantized per pair — no
    accumulation anywhere.

    Scale posture: identical to dedup_minhash_lsh (row-local signatures,
    banded equi-join candidates) plus two signature-table joins keyed on
    doc ids — pair-scale, never corpus-scale."""
    sets, sig = minhash_signatures(spark, sf_dir)
    cand = _minhash_candidates(sig)
    inter = F.size(F.array_intersect(F.col("sa.shingles"), F.col("sb.shingles")))
    union_n = F.size("sa.shingles") + F.size("sb.shingles") - inter
    jacc = inter.cast("double") / union_n
    pairs = (
        cand.join(sets.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sets.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .where(jacc >= 0.6)
        .select("doc_a", "doc_b", jacc.alias("jacc"))
    )
    matches = None
    for j in range(16):
        term = F.when(F.col(f"ma.mh{j}") == F.col(f"mb.mh{j}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    return scope_caches(
        pairs.join(sig.alias("ma"), F.col("doc_a") == F.col("ma.doc_id"))
        .join(sig.alias("mb"), F.col("doc_b") == F.col("mb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("jacc"), 6).alias("jacc_exact"),
            matches.cast("int").alias("est_matches"),
            (matches / F.lit(16.0)).alias("jacc_est"),
            F.floor(
                F.lit(1e6) * F.abs(F.col("jacc") - matches / F.lit(16.0))
            )
            .cast("bigint")
            .alias("abs_err_q6"),
        ),
        sets,
        sig,
    )


# ---------------------------------------------------------------------------
# Round 11 — asymmetric containment (excerpt/superset) detection
# ---------------------------------------------------------------------------

_CONTAIN_TAU_Q6 = 500_000  # containment >= 0.5 of the smaller side


@register(
    "dedup_containment",
    f"""
    WITH h AS (SELECT doc_id, {{WKGRAMS}} AS h
               FROM (SELECT doc_id, text FROM documents
                     UNION ALL
                     SELECT -doc_id - 1, substr(text, 1, 80) || ' tail'
                     FROM documents WHERE doc_id % 11 = 0 AND length(text) >= 80)
               WHERE length(text) >= {{MINLEN}}),
    w AS (SELECT doc_id, {{WWINNOW}} AS fps FROM h),
    fp AS (SELECT doc_id, unnest(fps) AS f FROM w),
    qual AS (SELECT f FROM fp GROUP BY f HAVING COUNT(*) <= {{CAP}}),
    fpq AS (SELECT fp.doc_id, fp.f FROM fp JOIN qual USING (f)),
    cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps
            FROM fpq GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS da, b.doc_id AS db,
                     CAST(COUNT(*) AS BIGINT) AS shared
              FROM fpq a JOIN fpq b ON a.f = b.f AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 2),
    dirn AS (SELECT
                 CASE WHEN ca.n_fps < cb.n_fps
                           OR (ca.n_fps = cb.n_fps AND da < db)
                      THEN da ELSE db END AS doc_sub,
                 CASE WHEN ca.n_fps < cb.n_fps
                           OR (ca.n_fps = cb.n_fps AND da < db)
                      THEN db ELSE da END AS doc_sup,
                 shared, LEAST(ca.n_fps, cb.n_fps) AS sub_n
             FROM pairs
             JOIN cnt ca ON ca.doc_id = da
             JOIN cnt cb ON cb.doc_id = db)
    SELECT doc_sub, doc_sup, CAST(shared AS INT) AS shared_fps,
           CAST(sub_n AS INT) AS sub_fps,
           CAST((shared * 1000000) // sub_n AS BIGINT) AS containment_q6
    FROM dirn WHERE (shared * 1000000) // sub_n >= {{TAU}}
    """.format(WKGRAMS=_DUCK_WKGRAMS, WWINNOW=_DUCK_WWINNOW,
               MINLEN=_WK + _WW, CAP=_WDF_CAP, TAU=_CONTAIN_TAU_Q6),
    "dedup",
)
def dedup_containment(spark, sf_dir):
    """ASYMMETRIC near-dup detection: fingerprint containment
    C(sub -> sup) = |fps(sub) AND fps(sup)| / |fps(sub)| over the winnow
    fingerprint sets — the metric that catches an excerpt inside a much
    larger document, which Jaccard misses BY DESIGN (the union in its
    denominator dilutes any subset relation: an 80-char excerpt of a
    500-char doc has Jaccard ~0.15 but containment ~1.0; the planted
    excerpts here are exactly that shape). Broder's containment measure,
    the standard sub/superset dedup direction for crawl corpora where
    quotes, mirrors-with-chrome, and aggregator pages contain other
    documents.

    Directionality: doc_sub is the side with the SMALLER kept
    fingerprint set (tie -> lower doc_id); the denominator is the kept
    (df-capped) set, consistently with the candidate join, so the score
    can never exceed 1e6.

    Scale posture: identical to dedup_winnow_overlap — Arrow-kernel
    fingerprints, hot-fingerprint broadcast anti-join, banded candidate
    equi-join, never all-pairs; the direction/score stage joins the
    PAIR frame against doc-grain counts. The fingerprint stream is
    persisted (three consumers: df-cap aggregate + both join sides,
    same rationale as winnow_overlap)."""
    d = load(spark, sf_dir, "documents")["documents"].select("doc_id", "text")
    excerpts = d.where(
        (F.col("doc_id") % 11 == 0) & (F.length("text") >= 80)
    ).select(
        (-F.col("doc_id") - 1).alias("doc_id"),
        F.concat(F.substring("text", 1, 80), F.lit(" tail")).alias("text"),
    )
    aug = d.union(excerpts).where(F.length("text") >= _WK + _WW)
    # gate-repartition before the Arrow kernel — same rationale and gate
    # as dedup_winnow_overlap (single-split source would serialize the
    # per-doc winnow kernel onto ~2 cores)
    n_parts = spark.sparkContext.defaultParallelism
    if _estimated_splits(spark, f"{sf_dir}/documents.parquet") < n_parts:
        aug = aug.repartition(n_parts, "doc_id")
    fps = aug.select(
        "doc_id", F.explode(_winnow_fps_udf()("text")).alias("f")
    ).persist()
    hot = (
        fps.groupBy("f")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > _WDF_CAP)
        .select("f")
    )
    kept = fps.join(F.broadcast(hot), "f", "left_anti")
    cnt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fps")
    )
    a = kept.select(F.col("doc_id").alias("da"), "f")
    b = kept.select(F.col("doc_id").alias("db"), "f")
    pairs = (
        a.join(b, "f")
        .where(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
        .where(F.col("shared") >= 2)
    )
    ca = cnt.select(F.col("doc_id").alias("da"), F.col("n_fps").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("db"), F.col("n_fps").alias("nb"))
    sub_first = (F.col("na") < F.col("nb")) | (
        (F.col("na") == F.col("nb")) & (F.col("da") < F.col("db"))
    )
    dirn = (
        pairs.join(ca, "da")
        .join(cb, "db")
        .select(
            F.when(sub_first, F.col("da")).otherwise(F.col("db")).alias("doc_sub"),
            F.when(sub_first, F.col("db")).otherwise(F.col("da")).alias("doc_sup"),
            "shared",
            F.least(F.col("na"), F.col("nb")).alias("sub_n"),
        )
        .withColumn(
            "containment_q6",
            F.expr("CAST((shared * 1000000) DIV sub_n AS BIGINT)"),
        )
    )
    out = dirn.where(F.col("containment_q6") >= _CONTAIN_TAU_Q6).select(
        "doc_sub",
        "doc_sup",
        F.col("shared").cast("int").alias("shared_fps"),
        F.col("sub_n").cast("int").alias("sub_fps"),
        "containment_q6",
    )
    return scope_caches(out, fps)


# ---------------------------------------------------------------------------
# Round 12 — b-bit minhash (Li & Konig 2010) estimator quality
# ---------------------------------------------------------------------------

_BBIT_B = 8
_BBIT_MOD = 1 << _BBIT_B  # keep only the low b bits of each minhash


def _bbit_sql() -> str:
    m16 = " + ".join(
        f"(CASE WHEN sa.mh{j} = sb.mh{j} THEN 1 ELSE 0 END)" for j in range(16)
    )
    m8 = " + ".join(
        f"(CASE WHEN sa.mh{j} % {_BBIT_MOD} = sb.mh{j} % {_BBIT_MOD}"
        f" THEN 1 ELSE 0 END)"
        for j in range(16)
    )
    return f"""
    WITH {_DUCK_MINHASH_CTES},
    m AS (
        SELECT c.doc_a, c.doc_b,
               CAST({m16} AS INT) AS m16,
               CAST({m8} AS INT) AS m8,
               len(list_intersect(ta.shingles, tb.shingles)) AS ia,
               len(ta.shingles) AS na, len(tb.shingles) AS nb
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b
        JOIN sets ta ON ta.doc_id = c.doc_a
        JOIN sets tb ON tb.doc_id = c.doc_b)
    SELECT doc_a, doc_b,
           CAST(FLOOR(1000000.0 * ia / (na + nb - ia)) AS BIGINT)
             AS exact_q6,
           m16, m8,
           CAST((1000000::BIGINT * m16) // 16 AS BIGINT) AS est16_q6,
           CAST((1000000::BIGINT * GREATEST(0, {_BBIT_MOD} * m8 - 16))
                // (16 * {_BBIT_MOD - 1}) AS BIGINT) AS est8_q6
    FROM m
    """


@register(
    "dedup_bbit_minhash",
    _bbit_sql(),
    "dedup",
)
def dedup_bbit_minhash(spark, sf_dir):
    """b-bit minhash (Li & Konig, "b-Bit Minwise Hashing", WWW 2010):
    store only the LOW {_BBIT_B} bits of each minhash permutation —
    {_BBIT_B}/32 of the signature bytes — and undo the accidental-
    collision inflation with the paper's unbiased estimator
    J = (Pb - C) / (1 - C), C = 2^-b: with b=8 and 16 permutations the
    signature drops from 64 to 16 bytes while the estimate stays usable.
    Output per LSH candidate pair: exact Jaccard (q6), full-width and
    b-bit match counts, and both estimators (q6) — the space/accuracy
    tradeoff table a dedup pipeline consults when sizing its signature
    store.

    Cross-engine exactness: match counts are integer CASE sums; the
    estimators are pure BIGINT arithmetic with the negative-bias case
    clamped BEFORE the division (GREATEST(0, 256*m8 - 16), so the
    truncation direction of negative division never matters); the exact
    Jaccard is one IEEE double division of exact ints, floor-quantized.

    Scale posture: candidates come from the banded LSH join (never
    all-pairs); the signature table is doc-grain and equi-joined twice;
    match counts are row-local expressions over the 16 signature
    columns. sets/sig persist via minhash_signatures (multiple
    consumers), released by scope_caches."""
    sets, sig = minhash_signatures(spark, sf_dir)
    cand = _minhash_candidates(sig)
    m16 = None
    m8 = None
    for j in range(16):
        t16 = F.when(F.col(f"sa.mh{j}") == F.col(f"sb.mh{j}"), 1).otherwise(0)
        t8 = F.when(
            F.col(f"sa.mh{j}") % _BBIT_MOD == F.col(f"sb.mh{j}") % _BBIT_MOD, 1
        ).otherwise(0)
        m16 = t16 if m16 is None else m16 + t16
        m8 = t8 if m8 is None else m8 + t8
    inter = F.size(F.array_intersect(F.col("ta.shingles"), F.col("tb.shingles")))
    union_n = F.size("ta.shingles") + F.size("tb.shingles") - inter
    joined = (
        cand.join(sig.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sig.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .join(sets.alias("ta"), F.col("doc_a") == F.col("ta.doc_id"))
        .join(sets.alias("tb"), F.col("doc_b") == F.col("tb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            m16.cast("int").alias("m16"),
            m8.cast("int").alias("m8"),
            inter.cast("bigint").alias("ia"),
            (F.size("ta.shingles")).cast("bigint").alias("na"),
            (F.size("tb.shingles")).cast("bigint").alias("nb"),
        )
    )
    out = joined.select(
        "doc_a",
        "doc_b",
        F.floor(
            F.lit(1000000.0) * F.col("ia") / (F.col("na") + F.col("nb") - F.col("ia"))
        )
        .cast("bigint")
        .alias("exact_q6"),
        "m16",
        "m8",
        F.expr(
            "CAST((CAST(1000000 AS BIGINT) * m16) DIV 16 AS BIGINT)"
        ).alias("est16_q6"),
        F.expr(
            f"CAST((CAST(1000000 AS BIGINT)"
            f" * GREATEST(0, {_BBIT_MOD} * m8 - 16))"
            f" DIV (16 * {_BBIT_MOD - 1}) AS BIGINT)"
        ).alias("est8_q6"),
    )
    return scope_caches(out, sets, sig)


# ---------------------------------------------------------------------------
# Round 12 — content-defined chunking (CDC) shared-content detection
# ---------------------------------------------------------------------------

#: boundary rate 1/64 -> expected chunk ~64 chars; 8-char window
_CDC_MASK = 64
_CDC_W = 8
#: 31^k multipliers for the window polynomial (fit int64 with room:
#: max term 1742810335 * 1114111 < 2e15, eight terms < 2e16)
_CDC_MULS = [31**k for k in range(_CDC_W)]


def _cdc_hash(char_at, cast):
    return " + ".join(
        f"{m} * {cast.format(c=char_at.format(off=j))}"
        for j, m in enumerate(_CDC_MULS)
    )


_SPARK_CDC_BND = (
    "filter(sequence(2, length(text) - 7), i -> ("
    + _cdc_hash("ascii(substring(text, CAST(i + {off} AS INT), 1))",
                "CAST({c} AS BIGINT)")
    + f") % {_CDC_MASK} = 0)"
)
_DUCK_CDC_BND = (
    "list_filter(generate_series(2, length(text) - 7), i -> ("
    + _cdc_hash("ord(text[(i + {off})::INT])", "{c}::BIGINT")
    + f") % {_CDC_MASK} = 0)"
)


@register(
    "dedup_cdc_chunks",
    f"""
    WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
               WHERE length(text) >= 16),
    bp AS (SELECT doc_id, text,
                  list_concat(list_concat([1::BIGINT], {_DUCK_CDC_BND}),
                              [(n + 1)::BIGINT]) AS bps
           FROM d),
    chunks AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(bps) - 1),
                 k -> substr(text, bps[k]::INT, (bps[k+1] - bps[k])::INT)))
                 AS chunk
        FROM bp),
    ch AS (SELECT doc_id, md5(chunk) AS ch,
                  CAST(length(chunk) AS BIGINT) AS clen
           FROM chunks WHERE length(chunk) > 0),
    cd AS (SELECT ch, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS ndocs
           FROM ch GROUP BY ch)
    SELECT ch.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN cd.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           CAST(SUM(CASE WHEN cd.ndocs > 1 THEN ch.clen ELSE 0 END)
             AS BIGINT) AS shared_chars
    FROM ch JOIN cd USING (ch)
    GROUP BY ch.doc_id
    """,
    "dedup",
)
def dedup_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (the FastCDC/rsync family): chunk
    boundaries are placed where a rolling window hash of the CONTENT
    hits a mask (here an 8-char polynomial % {_CDC_MASK} — expected
    chunk ~{_CDC_MASK} chars), so identical passages chunk identically
    REGARDLESS OF OFFSET — the shifted-duplicate case fixed-stride
    chunking misses by construction (one inserted sentence re-aligns
    every later fixed block but no content-defined block). Per doc:
    chunk count, chunks shared with any other doc, and shared character
    mass — the storage-dedup / template-mass diagnostic.

    Simplifications vs production FastCDC, documented: no min/max chunk
    clamp and a plain polynomial instead of the gear table — boundary
    placement quality differs, the offset-invariance property (what the
    test pins) does not.

    Cross-engine exactness: the window hash is pure BIGINT (codepoint x
    31^k sums — max term < 2e15, eight terms < 2e16), boundaries are
    integer comparisons, chunk identity is md5 — no float anywhere.
    Spark ``ascii(substring(...))`` and DuckDB ``ord(text[i])`` both
    yield the codepoint.

    Scale posture: chunking is entirely ROW-LOCAL (HOF filter +
    transform + one Generate; the boundary-position array is ~len/64
    entries); the only shuffles are the chunk-hash doc-frequency
    aggregate and the per-doc rollup — both on md5 keys, never raw
    text. The chunk-frequency join is chunk-grain (bounded by corpus
    bytes / {_CDC_MASK}). The ``length(chunk) > 0`` predicate sits
    above the Generate, so it can never be pushed into a re-inlined
    HOF battery (the established Generate-barrier pattern)."""
    d = (
        load(spark, sf_dir, "documents")["documents"]
        .select("doc_id", "text")
        .where(F.length("text") >= 16)
        # the interpreted HOF window-hash battery is the whole cost of
        # this query and documents.parquet is one input split — without
        # a gate-repartition the r14 profile showed 13 s of CPU in ONE
        # task (the phash/augmented_documents pattern)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    bp = d.select(
        "doc_id",
        "text",
        F.expr(
            f"concat(array(1L), {_SPARK_CDC_BND},"
            f" array(CAST(length(text) + 1 AS BIGINT)))"
        ).alias("bps"),
    )
    chunks = bp.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(bps) - 1), k -> "
                "substring(text, CAST(element_at(bps, k) AS INT), "
                "CAST(element_at(bps, k + 1) - element_at(bps, k) AS INT)))"
            )
        ).alias("chunk"),
    )
    ch = chunks.where(F.length("chunk") > 0).select(
        "doc_id",
        F.md5("chunk").alias("ch"),
        F.length("chunk").cast("bigint").alias("clen"),
    ).persist()
    cd = ch.groupBy("ch").agg(
        F.countDistinct("doc_id").cast("bigint").alias("ndocs")
    )
    out = (
        ch.join(cd, "ch")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("ndocs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared"),
            F.sum(F.when(F.col("ndocs") > 1, F.col("clen")).otherwise(0))
            .cast("bigint")
            .alias("shared_chars"),
        )
    )
    return scope_caches(out, ch)


# ---------------------------------------------------------------------------
# Round 16 — train/val/test leakage audit over near-duplicate pairs
# ---------------------------------------------------------------------------

_SPLIT_U_BASE = (
    "conv(substr(md5(cast(({c} % 1000000) as string)), 1, 8), 16, 10)"
    " / 4294967296.0"
)
_DUCK_U_BASE = (
    "('0x' || substr(md5(CAST(({c} % 1000000) AS VARCHAR)), 1, 8))::BIGINT"
    " / 4294967296.0"
)


def _split_case(u_tpl: str, col: str) -> str:
    u = u_tpl.format(c=col)
    return (
        f"CASE WHEN {u} < 0.8 THEN 'train' "
        f"WHEN {u} < 0.9 THEN 'val' ELSE 'test' END"
    )


@register(
    "split_leakage_neardup",
    f"""WITH {_DUCK_MINHASH_CTES},
    labeled AS (
      SELECT least({_split_case(_DUCK_U_BASE, 'doc_a')},
                   {_split_case(_DUCK_U_BASE, 'doc_b')}) AS split_a,
             greatest({_split_case(_DUCK_U_BASE, 'doc_a')},
                      {_split_case(_DUCK_U_BASE, 'doc_b')}) AS split_b
      FROM pairs)
    SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           split_a != split_b AS is_leak
    FROM labeled GROUP BY split_a, split_b
    """,
    "dedup",
    "curation",
)
def split_leakage_neardup(spark, sf_dir):
    """Eval-set leakage audit: near-duplicate pairs (the
    dedup_minhash_lsh candidates verified at exact Jaccard >= 0.6)
    crossed with the split_train_val_test hash assignment — a pair
    whose members land in different splits is contamination (the eval
    member is effectively in the training set; Dodge et al. 2021 /
    GPT-3 appendix-C style audit). Splits key on the BASE doc id
    (doc_id % 1000000, the augmentation convention), so a planted
    synthetic duplicate shares its original's split and the
    off-diagonal rows isolate GENUINE cross-document near-dups. Output
    is the (split_a, split_b) leakage matrix with an is_leak flag —
    diagonal rows double as the non-vacuous floor at every SF.

    Scale shape: inherits the banded minhash pipeline wholesale (band
    equi-join, never all-pairs); the split labeling is a row-local md5
    projection and the matrix rollup is a 6-row aggregate."""
    sets, sig = minhash_signatures(spark, sf_dir)
    cand = _minhash_candidates(sig)
    inter = F.size(F.array_intersect(F.col("sa.shingles"), F.col("sb.shingles")))
    union_n = F.size("sa.shingles") + F.size("sb.shingles") - inter
    jacc = inter.cast("double") / union_n
    pairs = (
        cand.join(sets.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sets.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .where(jacc >= 0.6)
        .select("doc_a", "doc_b")
    )
    sa = F.expr(_split_case(_SPLIT_U_BASE, "doc_a"))
    sb = F.expr(_split_case(_SPLIT_U_BASE, "doc_b"))
    out = (
        pairs.select(
            F.least(sa, sb).alias("split_a"),
            F.greatest(sa, sb).alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .withColumn("is_leak", F.col("split_a") != F.col("split_b"))
    )
    return scope_caches(out, sets, sig)
