"""Link-graph centrality for corpus curation (NEW — LLM-pipeline surface).

Web-scale training-data pipelines rank crawled pages by link-graph
centrality before/alongside content quality filters (e.g. Common Crawl's
harmonic-centrality rankings; PageRank, Page et al. 1999). This module runs
PageRank over a deterministic synthetic hyperlink graph derived from the
``documents`` table: each doc links to 3 md5-derived targets
(``H32(doc_id:k) % N``), self-loops removed, multiplicity kept.

Cross-engine exactness: the entire iteration is BIGINT fixed-point
(scale 1e9). Per-edge contribution is ``rank DIV out_deg`` (integer
division), the damping step is ``base + (85 * sum) DIV 100`` — every
operation is order-independent exact integer arithmetic, so Spark and
DuckDB agree bit-for-bit with no float folds anywhere.

Scale posture: each of the K=5 unrolled iterations is one shuffle of the
edge list on ``src`` (join against current ranks) plus one aggregation
shuffle on ``dst`` — the textbook distributed PageRank shape. At 100 TB the
edge table would be bucketed by ``src`` (sources/bucketing.py) so the join
side of every iteration is shuffle-free, and ranks (one BIGINT per node)
are the only data moved per round. The unrolled-CTE form keeps the whole
thing one declarative plan for Catalyst/AQE; a driver loop with
localCheckpoint every ~10 rounds is the variant for large K.
"""

from __future__ import annotations

from ..registry import register

_SCALE = 1_000_000_000
_DAMP_NUM, _DAMP_DEN = 85, 100  # d = 0.85
_K = 5
_FANOUT = 3


def _edges_sql(dialect: str) -> str:
    """Edge CTEs: md5-derived 3-regular-ish digraph over documents."""
    if dialect == "spark":
        h32 = (
            "cast(conv(substr(md5(concat(cast(doc_id as string), ':', "
            "cast(k as string))), 1, 8), 16, 10) as bigint)"
        )
        vals = f"(VALUES {', '.join(f'({i})' for i in range(1, _FANOUT + 1))} AS t(k))"
        div = "DIV"
    else:
        h32 = (
            "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || "
            "CAST(k AS VARCHAR)), 1, 8))::BIGINT"
        )
        vals = f"(VALUES {', '.join(f'({i})' for i in range(1, _FANOUT + 1))}) t(k)"
        div = "//"
    return f"""
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    nodes AS (SELECT doc_id FROM documents),
    edges0 AS (
        SELECT doc_id AS src, {h32} % (SELECT n_docs FROM n) AS dst
        FROM documents CROSS JOIN {vals}),
    edges1 AS (SELECT src, dst FROM edges0 WHERE src <> dst),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg
            FROM edges1 GROUP BY src),
    edges AS (SELECT e.src, e.dst, d.out_deg
              FROM edges1 e JOIN deg d ON e.src = d.src),
    r0 AS (SELECT doc_id,
                  CAST({_SCALE} {div} (SELECT n_docs FROM n) AS BIGINT) AS rank_fp
           FROM nodes)"""


def _iter_sql(i: int, dialect: str) -> str:
    div = "DIV" if dialect == "spark" else "//"
    base = (
        f"CAST(({_DAMP_DEN - _DAMP_NUM} * ({_SCALE} {div} (SELECT n_docs FROM n)))"
        f" {div} {_DAMP_DEN} AS BIGINT)"
    )
    return f"""
    s{i} AS (
        SELECT e.dst AS doc_id,
               CAST(SUM(r.rank_fp {div} e.out_deg) AS BIGINT) AS contrib
        FROM edges e JOIN r{i - 1} r ON e.src = r.doc_id
        GROUP BY e.dst),
    r{i} AS (
        SELECT nd.doc_id,
               {base} + CAST(({_DAMP_NUM} * COALESCE(s.contrib, 0))
                             {div} {_DAMP_DEN} AS BIGINT) AS rank_fp
        FROM nodes nd LEFT JOIN s{i} s ON nd.doc_id = s.doc_id)"""


def _pagerank_sql(dialect: str) -> str:
    ctes = _edges_sql(dialect) + "".join(
        "," + _iter_sql(i, dialect) for i in range(1, _K + 1)
    )
    return f"""
    WITH {ctes}
    SELECT r.doc_id, r.rank_fp, CAST(COALESCE(d.out_deg, 0) AS INT) AS out_deg
    FROM r{_K} r LEFT JOIN deg d ON r.doc_id = d.src
    """


@register(
    "graph_pagerank_centrality",
    _pagerank_sql("duckdb"),
    "graph",
    "curation",
    "bench",
)
def graph_pagerank_centrality(spark, sf_dir):
    """DataFrame-loop PageRank (the oracle runs the unrolled-CTE SQL form
    of the identical fixed-point arithmetic).

    Why not spark.sql(_pagerank_sql("spark"))? CTE inlining re-derives the
    edge list in every iteration (5 extra scans + degree aggregations) and
    plans the ``(SELECT n_docs FROM n)`` scalars as 1-row
    BroadcastNestedLoopJoins — 60 exchanges, 11 NLJs at K=5. Here the edge
    list is built once, cached, and re-joined; N is one driver-side count()
    (a bounded scalar, same class as BPE's per-round argmax), so each
    iteration moves exactly one BIGINT per node plus the cached edges:
    2 shuffles per round, zero nested-loop joins.
    """
    from pyspark.sql import functions as F

    from ..caching import scope_caches
    from ..sources import load

    docs = load(spark, sf_dir, "documents")["documents"].select("doc_id")
    n_docs = docs.count()
    init = _SCALE // n_docs
    base = ((_DAMP_DEN - _DAMP_NUM) * init) // _DAMP_DEN

    h32 = (
        "cast(conv(substr(md5(concat(cast(src as string), ':', "
        "cast(k as string))), 1, 8), 16, 10) as bigint)"
    )
    edges1 = (
        docs.select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(*[F.lit(i) for i in range(1, _FANOUT + 1)])).alias("k"),
        )
        .select("src", F.expr(f"{h32} % {n_docs}").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    deg = edges1.groupBy("src").agg(F.count("*").cast("bigint").alias("out_deg"))
    edges = (
        edges1.join(deg, "src")
        .repartition(spark.sparkContext.defaultParallelism, "src")
        .persist()
    )

    ranks = docs.select("doc_id", F.lit(init).cast("bigint").alias("rank_fp"))
    for _ in range(_K):
        contrib = (
            edges.join(ranks, edges.src == ranks.doc_id)
            .select("dst", F.expr("rank_fp DIV out_deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").cast("bigint").alias("contrib"))
        )
        ranks = (
            docs.join(contrib, docs.doc_id == contrib.dst, "left")
            .select(
                "doc_id",
                (
                    F.lit(base).cast("bigint")
                    + F.expr(
                        f"CAST(({_DAMP_NUM} * COALESCE(contrib, 0L))"
                        f" DIV {_DAMP_DEN} AS BIGINT)"
                    )
                ).alias("rank_fp"),
            )
        )
    out = (
        ranks.join(deg.withColumnRenamed("src", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            "rank_fp",
            F.coalesce(F.col("out_deg"), F.lit(0)).cast("int").alias("out_deg"),
        )
    )
    return scope_caches(out, edges)


# ---------------------------------------------------------------------------
# Round 11 — triangle counting / clustering on the co-purchase graph
# ---------------------------------------------------------------------------

#: degree-order encoding: ord(v) = deg(v) * 2^32 + v packs the
#: (degree, id) lexicographic total order into one BIGINT comparison;
#: ids fit 32 bits at any TPC-H SF this repo targets and a degree above
#: 2^31 is physically impossible (it would need 2^31 distinct co-pairs).
_TRI_ORD_BASE = 4_294_967_296  # 2^32

_TRI_SQL = f"""
    WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS i, b.l_partkey AS j
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT i AS node FROM pairs
              UNION ALL SELECT j AS node FROM pairs) v
        GROUP BY node),
    nord AS (
        SELECT node,
               d * CAST({_TRI_ORD_BASE} AS BIGINT) + CAST(node AS BIGINT)
                 AS nord
        FROM deg),
    edges AS (
        SELECT CASE WHEN oi.nord < oj.nord THEN p.i ELSE p.j END AS src,
               CASE WHEN oi.nord < oj.nord THEN p.j ELSE p.i END AS dst,
               CASE WHEN oi.nord < oj.nord THEN oj.nord ELSE oi.nord END
                 AS dord
        FROM pairs p
        JOIN nord oi ON oi.node = p.i
        JOIN nord oj ON oj.node = p.j),
    tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM edges e1
        JOIN edges e2 ON e2.src = e1.src AND e1.dord < e2.dord
        JOIN edges e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
    verts AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b AS node FROM tri
        UNION ALL SELECT c AS node FROM tri)
    SELECT CAST(node AS BIGINT) AS node,
           CAST(COUNT(*) AS BIGINT) AS n_tri
    FROM verts GROUP BY node
"""


def _co_purchase_pairs(spark, sf_dir):
    """Distinct co-purchase part pairs (i < j), one row per undirected
    edge — order-local generation, no skew (an order has <= 7 items).

    Shape: ONE shuffle to order grain (collect_set) + in-row pair
    explosion + the distinct — not the lineitem self-join the oracle
    spells (two scans + a join exchange + the distinct; measured 2.1 vs
    1.3 s at sf0.1, 7.1 vs 2.8 cold). Per-order fanout is C(7,2) max,
    so the exploded stream is bounded and the collect_set array tiny."""
    from pyspark.sql import functions as F

    from ..partitioning import ids_fit_int, spread
    from ..sources import load

    li = load(spark, sf_dir, "lineitem")["lineitem"].select(
        "l_orderkey", "l_partkey"
    )
    # Narrower ids through every downstream exchange (guide §2.3 "a long
    # that always fits in an int ... halve the column, halve its shuffle
    # bytes — only when provably safe"): the co-purchase consumers shuffle
    # part-id PAIRS, node-grain degree rows, and adjacency ARRAYS whose
    # elements are these ids — at sf1 the triangle query's 2nd adjacency
    # join alone shuffles 2.26 GB of id-array rows (r16 profile). The
    # parquet footer min/max statistics prove driver-side whether the id
    # domain fits a 32-bit INT; at 100 TB the key domain outgrows INT and
    # the gate leaves BIGINT in place. Every query OUTPUT that exposes an
    # id casts back to BIGINT, so result schema/values are invariant.
    _src = f"{sf_dir}/lineitem.parquet"
    for _k in ("l_orderkey", "l_partkey"):
        if ids_fit_int(_src, _k):
            li = li.withColumn(_k, F.col(_k).cast("int"))
    # Gate-repartition before the order-grain aggregate: the single-file
    # single-row-group source delivers every row in ONE scan task, so the
    # map-side collect_set partial aggregation — the heaviest stage of
    # every co-purchase consumer — ran on one core. Repartitioning on the
    # GROUP KEY replaces the aggregate's own exchange (the partitioning
    # satisfies its clustering requirement), so no shuffle is added.
    li = spread(spark, li, sf_dir, "lineitem", "l_orderkey")
    return (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .select(F.explode("ps").alias("i"), "ps")
        .select("i", F.explode(F.expr("filter(ps, x -> x > i)")).alias("j"))
        .distinct()
    )


def orient_edges_by_degree(pairs, caches=None):
    """Schank & Wagner (2005) degree orientation: each undirected edge
    {u, v} becomes the single arc u -> v where (deg(u), u) < (deg(v), v)
    in the packed-BIGINT order. Out-degree under this orientation is
    O(sqrt(|E|)) on ANY graph — including power-law link graphs, where
    key-ordered wedges blow up quadratically in hub degree.

    Input: DataFrame[i, j] of distinct undirected edges. Output:
    DataFrame[src, dst, dord] where dord is dst's packed order key (the
    wedge join's tie-free comparison column).

    ``caches``: optional list — when given, the O(|V|)-row ``nord``
    frame is persisted, MATERIALIZED, and appended for the caller's
    ``scope_caches``. Without it, the oi/oj broadcast-exchange futures
    each re-run the full degree pipeline (Union + groupBy over 2|E|
    rows): AQE does not reuse the two canonically-equal broadcast
    exchanges across subtrees, and the r14 per-stage profile
    (artifacts/triangle_profile_r14.md) shows the deg map stage as the
    query's single heaviest stage RUNNING TWICE (~70 s executor each at
    sf0.1). Materializing the 20k-row nord first makes both broadcasts
    a cache read.
    """
    from pyspark.sql import functions as F

    # single-pass degree build: explode both endpoints per edge row
    # instead of unionAll-ing two scans of `pairs` (guide §2.4 — with the
    # union form, a caller whose pairs cache is not yet materialized had
    # the two scan branches race to compute it, running the co-purchase
    # pipeline twice in one job)
    deg = (
        pairs.select(F.explode(F.array(F.col("i"), F.col("j"))).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    nord = deg.select(
        "node",
        (
            F.col("d") * F.lit(_TRI_ORD_BASE).cast("bigint")
            + F.col("node").cast("bigint")
        ).alias("nord"),
    )
    if caches is not None:
        nord = nord.persist()
        nord.count()
        caches.append(nord)
    oi = nord.select(F.col("node").alias("i"), F.col("nord").alias("oi"))
    oj = nord.select(F.col("node").alias("j"), F.col("nord").alias("oj"))
    lower_first = F.col("oi") < F.col("oj")
    return (
        pairs.join(oi, "i")
        .join(oj, "j")
        .select(
            F.when(lower_first, F.col("i")).otherwise(F.col("j")).alias("src"),
            F.when(lower_first, F.col("j")).otherwise(F.col("i")).alias("dst"),
            F.greatest(F.col("oi"), F.col("oj")).alias("dord"),
        )
    )


def count_wedges(edges):
    """Wedge frame over degree-oriented edges: pairs of arcs out of one
    source, lower dst-order first. On a star graph this is EMPTY (every
    leaf has out-degree 1) where key ordering would enumerate
    C(hub_degree, 2) wedges — the property test's witness for the
    orientation's cost bound (the operator's intersection work obeys the
    same per-source out-degree budget)."""
    from pyspark.sql import functions as F

    e1 = edges.select(
        F.col("src"), F.col("dst").alias("b"), F.col("dord").alias("ord_b")
    )
    e2 = edges.select(
        F.col("src"), F.col("dst").alias("c"), F.col("dord").alias("ord_c")
    )
    return e1.join(e2, "src").where(F.col("ord_b") < F.col("ord_c"))


def triangle_corners(edges, caches=None):
    """Edge-iterator triangle listing over degree-oriented arcs: for each
    arc (u, v), the triangles through it are the common out-neighbors
    w in N+(u) AND N+(v) — computed by attaching per-source adjacency
    arrays (bounded at O(sqrt |E|) BY the orientation) to both arc
    endpoints and exploding ``array_intersect``. Returns
    DataFrame[u, v, w], one row per triangle, each triangle exactly once.

    Why not the wedge JOIN form: wedges number sum_v C(outdeg(v), 2) =
    O(|E|^1.5) ROWS, and the closure equi-join shuffles all of them
    (41M at sf0.1). Here the only shuffles are the O(|V|)-row adjacency
    build and the final corner aggregation (3 rows per triangle); the
    intersection work is the same O(|E|^1.5) bound but stays CPU-local
    inside the join's pipeline, never an exchange.

    ``caches``: optional list — when given, the O(|V|)-row ``adj`` frame
    is persisted, MATERIALIZED, and appended for the caller's
    ``scope_caches``; otherwise the au/av broadcast futures each re-run
    the collect_list groupBy over all |E| arcs (same AQE
    no-cross-subtree-reuse behavior as the nord broadcasts — see
    orient_edges_by_degree)."""
    from pyspark.sql import functions as F

    adj = edges.groupBy("src").agg(F.collect_list("dst").alias("nb"))
    if caches is not None:
        adj = adj.persist()
        adj.count()
        caches.append(adj)
    au = adj.select(F.col("src").alias("u"), F.col("nb").alias("nb_u"))
    av = adj.select(F.col("src").alias("v"), F.col("nb").alias("nb_v"))
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    return (
        e.join(au, "u")
        .join(av, "v")
        .select(
            "u", "v", F.explode(F.array_intersect("nb_u", "nb_v")).alias("w")
        )
    )


@register(
    "graph_triangle_count",
    _TRI_SQL,
    "graph",
    "bench",
)
def graph_triangle_count(spark, sf_dir):
    """Per-node triangle participation counts on the co-purchase graph
    (parts bought together in one order) — the standard graph-quality /
    community-density signal (clustering coefficient's numerator), used
    in curation to spot template-generated link farms vs organically
    dense neighborhoods.

    Graph construction: per-order part pairs with ``i < j`` (each
    undirected edge stored once). Per-order fanout is bounded (a TPC-H
    order has <= 7 lineitems), so edge generation is order-local with no
    skew.

    Triangle enumeration is DEGREE-ORIENTED (Schank & Wagner 2005,
    "Finding, Counting and Listing All Triangles in Large Graphs"):
    every undirected edge becomes one arc from its lower-(degree, id)
    endpoint, and a triangle through arc (u, v) is a common ORIENTED
    out-neighbor w of u and v — found by intersecting per-source
    adjacency arrays (``triangle_corners``), each triangle exactly once
    at its lowest-order vertex. The orientation bounds every out-degree
    (hence every adjacency array and every intersection) at O(sqrt |E|)
    on ANY graph: on the power-law link graphs this operator exists to
    curate (crawl corpora), a hub of degree h costs C(h, 2) wedges
    under naive key ordering but O(|E|) total under degree ordering
    (hubs sort last, so arcs point INTO them and their own lists stay
    small). tests/test_round12_properties.py holds the star-graph
    collapse witness; the orientation changes the join, not the
    triangle set, so the oracle is the identical SQL text (the oracle
    uses the equivalent wedge-join form — DuckDB has no array
    machinery worth racing).

    100 TB posture: degree aggregation + two dimension-grain equi-joins
    to attach order keys (AQE broadcasts them at dimension size; at
    extreme node cardinality they are plain shuffled equi-joins — never
    a cross). The closure never shuffles the O(|E|^1.5) wedge frame:
    the only exchanges are the O(|V|)-row adjacency build and the
    final corner aggregation (3 rows per triangle); intersection work
    stays pipeline-local. ``pairs`` (3 consumers: degree build + both
    orientation sides) and ``edges`` (3 consumers: adjacency build x2
    + the arc scan) are persisted — Catalyst does not CSE repeated
    subtrees, and recomputing pairs per consumer re-runs the lineitem
    self-join five times."""
    # r14 profile fix (artifacts/triangle_profile_r14.md): every fan-out
    # frame is persisted before its consumers build — the oi/oj and
    # au/av broadcast-exchange futures are canonically equal but AQE
    # does not reuse exchanges across subtrees, so without materialized
    # caches each future re-ran its full upstream pipeline (the deg map
    # stage, the heaviest in the query, executed twice).
    # r16-opt barrier trim (the round-16 "one barrier materializes
    # several caches transitively" lesson): TWO eager counts suffice —
    # nord.count (inside orient_edges_by_degree) populates the pairs
    # cache en route, because the single-pass explode degree build scans
    # pairs exactly once (no union race); adj.count (inside
    # triangle_corners) populates the edges cache the same way. The
    # previous pairs.count/edges.count barriers were serialized jobs
    # re-reading already-cached data.
    caches = []
    pairs = _co_purchase_pairs(spark, sf_dir).persist()
    caches.append(pairs)
    # dord is the wedge join's comparison column; triangle_corners never
    # reads it (the intersection form needs only the arcs), so project it
    # away BEFORE the persist — the cached arc table and both adjacency
    # collect_list shuffles carry 2 columns instead of 3 (guide §2.3
    # "project before the exchange").
    edges = (
        orient_edges_by_degree(pairs, caches=caches)
        .select("src", "dst")
        .persist()
    )
    caches.append(edges)
    from pyspark.sql import functions as F

    from ..caching import scope_caches

    tri = triangle_corners(edges, caches=caches)
    # one pass over the triangle frame: each triangle contributes to its
    # three corners via Generate — a UNION ALL of three projections would
    # re-run the intersection join three times (Catalyst has no CSE)
    verts = tri.select(
        F.explode(F.array(F.col("u"), F.col("v"), F.col("w"))).alias("node")
    )
    out = verts.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tri")
    ).select(F.col("node").cast("bigint").alias("node"), "n_tri")
    return scope_caches(out, *caches)


# ---------------------------------------------------------------------------
# Round 12 — iterative k-core peeling on the co-purchase graph
# ---------------------------------------------------------------------------

_KCORE_ROUNDS = 3


def _kcore_sql(div: str, materialized: bool = False) -> str:
    """Unrolled peel rounds; identical text both engines except integer
    division (Spark DIV / DuckDB //) and, for the DuckDB oracle,
    ``AS MATERIALIZED`` CTE hints: each round references its
    predecessor CTEs multiple times, and without forced materialization
    DuckDB re-inlines the pair self-join multiplicatively per round —
    at sf0.1 that spilled >79 GB of temp and aborted (r12 matrix run).
    The hints are semantics-neutral; Spark never sees them (its side is
    the DataFrame loop with persisted rounds)."""
    ctes = [
        """pairs AS (
        SELECT DISTINCT a.l_partkey AS i, b.l_partkey AS j
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""",
        """deg0 AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT i AS node FROM pairs
              UNION ALL SELECT j AS node FROM pairs) v
        GROUP BY node)""",
        f"""kthr AS (
        SELECT CAST((SUM(d) * 3) {div} (COUNT(*) * 4) AS BIGINT) AS k
        FROM deg0)""",
        "e0 AS (SELECT i, j FROM pairs)",
    ]
    for r in range(_KCORE_ROUNDS):
        ctes.append(
            f"""keep{r} AS (
        SELECT node FROM deg{r} WHERE d >= (SELECT k FROM kthr))"""
        )
        ctes.append(
            f"""e{r + 1} AS (
        SELECT e{r}.i, e{r}.j FROM e{r}
        JOIN keep{r} a ON e{r}.i = a.node
        JOIN keep{r} b ON e{r}.j = b.node)"""
        )
        ctes.append(
            f"""deg{r + 1} AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d
        FROM (SELECT i AS node FROM e{r + 1}
              UNION ALL SELECT j AS node FROM e{r + 1}) v
        GROUP BY node)"""
        )
    body = "WITH " + ",\n    ".join(ctes) + f"""
    SELECT CAST(node AS BIGINT) AS node, d AS core_deg
    FROM deg{_KCORE_ROUNDS}"""
    if materialized:
        body = body.replace(" AS (", " AS MATERIALIZED (")
    return body


@register(
    "graph_kcore_peel",
    _kcore_sql("//", materialized=True),
    "graph",
    # bench-tagged since r13: the localCheckpoint rework brought the
    # steady-state from 14.5 s to ~9 s at sf0.1 — same band as
    # graph_triangle_count — so the heaviest registry query is now
    # regression-tracked round-over-round (r12 verdict item #3)
    "bench",
)
def graph_kcore_peel(spark, sf_dir):
    """Iterative k-core peeling (Seidman 1983 cores; the standard
    crawl-graph curation signal next to PageRank and triangle density —
    pages outside a deep core are link-farm leaves and isolated chaff).
    Threshold k = 3/4 of the mean degree (exact BIGINT arithmetic on
    the degree table, so both engines derive the identical k — the
    near-regular co-purchase graph has a sharp peel phase transition,
    and 3/4 x mean peels the thin tail at every SF without cascading
    the whole graph away); each round
    drops every node with current degree < k and re-induces the edge
    set, {_KCORE_ROUNDS} rounds unrolled. Output: surviving nodes with
    their induced-subgraph degree.

    A full decomposition loops to fixpoint; the fixed-round form is the
    honest declarative unroll (graph_pagerank_centrality's K=5
    convention).

    100 TB posture: each round is one degree aggregation (map-side
    combinable) plus two node-grain semi-join-shaped equi-joins that AQE
    broadcasts at dimension size — never a cross; edge rows only ever
    shrink. Each round's edge frame is ``localCheckpoint``-ed (the
    dedup_components_star convention, r12 verdict item #3): it has two
    consumers (its degree aggregate and the next induction join) AND the
    truncation keeps the logical plan CONSTANT per round — the persisted
    form re-printed every predecessor's subplan at each reference site
    (3,856 plan lines / 601 exchanges in the text at K=3, growing
    super-linearly in K), while the checkpointed form is ~60 lines per
    round at any K (tests/test_round13_properties's K=3-vs-K=6 gate).
    localCheckpoint is executor-local; on an unreliable cluster use
    ``df.checkpoint()`` to a reliable store. The threshold scalar is
    collected once driver-side (colbert's closed-over-query-set pattern)
    so every round's filter is a literal comparison.

    Oracle: the identical unrolled SQL (integer division spelled // for
    DuckDB, DIV for Spark)."""
    return _kcore_peel_frame(spark, sf_dir, _KCORE_ROUNDS)


def _kcore_peel_frame(spark, sf_dir, rounds: int):
    from pyspark.sql import functions as F

    from ..caching import scope_caches

    pairs = _co_purchase_pairs(spark, sf_dir).persist()

    def degree(edges):
        # ONE pass over the edge list: explode both endpoints per row
        # instead of unionAll-ing two scans (guide §2.4 — the union form
        # scanned `edges` twice per degree call, and on the FIRST call the
        # two InMemoryTableScan branches of the lazily-persisted `pairs`
        # raced to compute the cache, running the full lineitem
        # scan+collect_set pipeline twice in one job — the r16-opt
        # per-stage profile showed three identical 38 MB map stages).
        return (
            edges.select(
                F.explode(F.array(F.col("i"), F.col("j"))).alias("node")
            )
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        )

    deg0 = degree(pairs)
    k = deg0.agg(
        F.expr("CAST((SUM(d) * 3) DIV (COUNT(*) * 4) AS BIGINT)").alias("k")
    ).collect()[0].k
    edges = pairs
    for r in range(rounds):
        keep = degree(edges).where(F.col("d") >= k).select("node")
        edges = (
            edges.join(keep.withColumnRenamed("node", "i"), "i")
            .join(keep.withColumnRenamed("node", "j"), "j")
            .select("i", "j")
        )
        # Every NON-final round is localCheckpoint-ed: two consumers
        # (next round's degree + induction join) and a constant plan per
        # round (r12 convention). The LAST round's edges feed exactly one
        # consumer — the final degree aggregate — so its checkpoint was a
        # pure extra materialization job + memory write; leaving the one
        # remaining round inline keeps the plan bounded (r16-opt A/B:
        # `git show fc9683e:tools/ab_kcore_lastckpt_r16opt.py`).
        if r != rounds - 1:
            edges = edges.localCheckpoint()
    out = degree(edges).select(
        F.col("node").cast("bigint").alias("node"),
        F.col("d").alias("core_deg"),
    )
    return scope_caches(out, pairs)


# ---------------------------------------------------------------------------
# Round 12 — HITS hubs & authorities on the synthetic link graph
# ---------------------------------------------------------------------------

_HITS_K = 4


def _hits_sql(dialect: str) -> str:
    """Unrolled HITS over the pagerank module's md5-derived link graph.
    UNNORMALIZED fixed-point: every score is an exact BIGINT sum, so the
    whole iteration is order-independent integer arithmetic (the repo's
    pagerank convention). Normalization only rescales — ranks are
    identical — and skipping it keeps the cross-engine contract trivial;
    magnitudes grow by at most max_in_deg x max_out_deg per round, far
    inside int64 for {_HITS_K} rounds at any SF here (bound documented
    in the operator docstring)."""
    ctes = _edges_sql(dialect) + f""",
    h0 AS (SELECT doc_id, CAST({_SCALE} AS BIGINT) AS h FROM nodes)"""
    for t in range(1, _HITS_K + 1):
        ctes += f""",
    ain{t} AS (
        SELECT e.dst AS doc_id, CAST(SUM(p.h) AS BIGINT) AS a
        FROM edges e JOIN h{t - 1} p ON e.src = p.doc_id
        GROUP BY e.dst),
    a{t} AS (
        SELECT nd.doc_id, COALESCE(s.a, 0) AS a
        FROM nodes nd LEFT JOIN ain{t} s ON nd.doc_id = s.doc_id),
    hout{t} AS (
        SELECT e.src AS doc_id, CAST(SUM(q.a) AS BIGINT) AS h
        FROM edges e JOIN a{t} q ON e.dst = q.doc_id
        GROUP BY e.src),
    h{t} AS (
        SELECT nd.doc_id, COALESCE(s.h, 0) AS h
        FROM nodes nd LEFT JOIN hout{t} s ON nd.doc_id = s.doc_id)"""
    return f"""
    WITH {ctes}
    SELECT h.doc_id, CAST(h.h AS BIGINT) AS hub_fp,
           CAST(a.a AS BIGINT) AS auth_fp
    FROM h{_HITS_K} h JOIN a{_HITS_K} a ON h.doc_id = a.doc_id
    """


@register(
    "graph_hits_hubs_authorities",
    _hits_sql("duckdb"),
    "graph",
    "curation",
)
def graph_hits_hubs_authorities(spark, sf_dir):
    """HITS (Kleinberg 1999, "Authoritative Sources in a Hyperlinked
    Environment"): the mutual hub/authority recursion — a page is a good
    AUTHORITY if good hubs link to it, a good HUB if it links to good
    authorities — over the same md5-derived synthetic link graph as
    graph_pagerank_centrality. In crawl curation the two scores separate
    content pages (authorities) from directory/aggregator pages (hubs),
    a split PageRank's single score can't express.

    Cross-engine exactness: UNNORMALIZED fixed-point — each round is two
    exact BIGINT sum-aggregations (auth = sum of in-neighbor hub scores,
    hub = sum of out-neighbor NEW auth scores); no division anywhere, so
    no normalization convention to align. Unnormalized scores are a
    positive rescaling of the normalized iteration round-for-round, so
    ranks match textbook HITS. Magnitude bound: scores grow by at most
    (max_in_deg x max_out_deg) per round — fanout {_FANOUT} and
    md5-uniform in-degrees keep round-{_HITS_K} scores under ~1e16 even
    at sf1, far inside int64 (the ANSI overflow gate would fail loudly,
    not wrap, if a future SF broke this).

    Scale posture: identical to pagerank — each round is one shuffle of
    the cached edge list per direction plus a node-grain LEFT JOIN
    fill; edges persist once (driver loop, not CTE inlining, which
    would re-derive the edge list 2x{_HITS_K} times and plan the n_docs
    scalar as nested-loop joins). At 100 TB the edge table is bucketed
    on src/dst so both per-round joins co-locate.

    Reference analogue: SURVEY §2.D graph-analytics family
    (plans/graph_analytics.py consumes these scores for lineage-graph
    centrality)."""
    from pyspark.sql import functions as F

    from ..caching import scope_caches
    from ..sources import load

    docs = load(spark, sf_dir, "documents")["documents"].select("doc_id")
    n_docs = docs.count()
    h32 = (
        "cast(conv(substr(md5(concat(cast(src as string), ':', "
        "cast(k as string))), 1, 8), 16, 10) as bigint)"
    )
    edges = (
        docs.select(
            F.col("doc_id").alias("src"),
            F.explode(
                F.array(*[F.lit(i) for i in range(1, _FANOUT + 1)])
            ).alias("k"),
        )
        .select("src", F.expr(f"{h32} % {n_docs}").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .repartition(spark.sparkContext.defaultParallelism, "src")
        .persist()
    )
    h = docs.select("doc_id", F.lit(_SCALE).cast("bigint").alias("h"))
    a = None
    for _ in range(_HITS_K):
        ain = (
            edges.join(h, edges.src == h.doc_id)
            .groupBy("dst")
            .agg(F.sum("h").cast("bigint").alias("a"))
        )
        a = docs.join(ain, docs.doc_id == ain.dst, "left").select(
            "doc_id", F.coalesce(F.col("a"), F.lit(0).cast("bigint")).alias("a")
        )
        hout = (
            edges.join(a, edges.dst == a.doc_id)
            .groupBy("src")
            .agg(F.sum("a").cast("bigint").alias("h"))
        )
        h = docs.join(hout, docs.doc_id == hout.src, "left").select(
            "doc_id", F.coalesce(F.col("h"), F.lit(0).cast("bigint")).alias("h")
        )
    out = h.join(a.withColumnRenamed("doc_id", "a_doc"), h.doc_id == F.col("a_doc")).select(
        "doc_id",
        F.col("h").alias("hub_fp"),
        F.col("a").alias("auth_fp"),
    )
    return scope_caches(out, edges)


# ---------------------------------------------------------------------------
# Round 13 — label propagation + link prediction
# ---------------------------------------------------------------------------

_LP_ROUNDS = 4


def _lp_sql(dialect: str) -> str:
    """Unrolled synchronous min-label propagation over the symmetrized
    md5 link graph (Raghavan et al. 2007's LPA with the deterministic
    min-label tie rule — the HashToMin connected-components primitive of
    Rastogi et al. 2013). Every round's label table is referenced twice
    (neighbor-min join + carry), so the DuckDB rendering forces
    ``AS MATERIALIZED`` — the kcore lesson: without it DuckDB re-inlines
    the whole predecessor chain multiplicatively per round."""
    if dialect == "spark":
        h32 = (
            "cast(conv(substr(md5(concat(cast(doc_id as string), ':', "
            "cast(k as string))), 1, 8), 16, 10) as bigint)"
        )
        vals = f"(VALUES {', '.join(f'({i})' for i in range(1, _FANOUT + 1))} AS t(k))"
    else:
        h32 = (
            "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || "
            "CAST(k AS VARCHAR)), 1, 8))::BIGINT"
        )
        vals = f"(VALUES {', '.join(f'({i})' for i in range(1, _FANOUT + 1))}) t(k)"
    ctes = [
        "n AS (SELECT COUNT(*) AS n_docs FROM documents)",
        "nodes AS (SELECT doc_id FROM documents)",
        f"""edges0 AS (
        SELECT doc_id AS src, {h32} % (SELECT n_docs FROM n) AS dst
        FROM documents CROSS JOIN {vals})""",
        "edges1 AS (SELECT src, dst FROM edges0 WHERE src <> dst)",
        """sym AS (
        SELECT src AS a, dst AS b FROM edges1
        UNION
        SELECT dst AS a, src AS b FROM edges1)""",
        "l0 AS (SELECT doc_id, doc_id AS label FROM nodes)",
    ]
    for i in range(1, _LP_ROUNDS + 1):
        ctes.append(
            f"""m{i} AS (
        SELECT s.a AS doc_id, MIN(l.label) AS nmin
        FROM sym s JOIN l{i - 1} l ON s.b = l.doc_id
        GROUP BY s.a)"""
        )
        ctes.append(
            f"""l{i} AS (
        SELECT l.doc_id,
               LEAST(l.label, COALESCE(m.nmin, l.label)) AS label
        FROM l{i - 1} l LEFT JOIN m{i} m ON l.doc_id = m.doc_id)"""
        )
    body = "WITH " + ",\n    ".join(ctes) + f""",
    csize AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS community_size
        FROM l{_LP_ROUNDS} GROUP BY label)
    SELECT l.doc_id, CAST(l.label AS BIGINT) AS label, s.community_size
    FROM l{_LP_ROUNDS} l JOIN csize s ON l.label = s.label"""
    if dialect != "spark":
        body = body.replace(" AS (", " AS MATERIALIZED (")
    return body


@register(
    "graph_label_propagation",
    _lp_sql("duckdb"),
    "graph",
    "curation",
)
def graph_label_propagation(spark, sf_dir):
    """Synchronous min-label propagation on the undirected md5 link
    graph: label_0(v) = v; label_i(v) = min(label_{i-1}(v),
    min_{u ~ v} label_{i-1}(u)); {_LP_ROUNDS} rounds unrolled (the
    pagerank/HITS fixed-round convention — the fixed-round prefix is
    deterministic whether or not the graph has converged). Output:
    per-node label plus the label's community size — the standard
    crawl-curation grouping signal (mirror clusters / template farms
    land in one label; dedup_components_star is the same primitive on
    the similarity graph, this is its link-graph sibling).

    100 TB posture: the symmetrized edge list is built once, hash-
    partitioned on the join key, and persisted; each round is ONE
    edges-to-labels equi-join plus a node-grain map-side-combinable MIN
    aggregate and a node-grain left join — labels rows never exceed
    |V|. Each round's label frame has two consumers (next round's join
    + carry) and is ``localCheckpoint``-ed, keeping the logical plan
    CONSTANT per round (the kcore/K=6 gate convention). Min-label LP is
    the textbook Pregel/Connected-Components kernel; K rounds cover
    K-hop label spread, and a production run loops this same body to a
    fixpoint with a driver-side convergence count.
    """
    return _lp_frame(spark, sf_dir, _LP_ROUNDS)


def _lp_frame(spark, sf_dir, rounds: int):
    from pyspark.sql import functions as F

    from ..caching import scope_caches
    from ..sources import load

    docs = load(spark, sf_dir, "documents")["documents"].select("doc_id")
    n_docs = docs.count()
    h32 = (
        "cast(conv(substr(md5(concat(cast(src as string), ':', "
        "cast(k as string))), 1, 8), 16, 10) as bigint)"
    )
    edges1 = (
        docs.select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(*[F.lit(i) for i in range(1, _FANOUT + 1)])).alias("k"),
        )
        .select("src", F.expr(f"{h32} % {n_docs}").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    sym = (
        edges1.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges1.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
        .repartition(spark.sparkContext.defaultParallelism, "b")
        .persist()
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("label"))
    for _ in range(rounds):
        nmin = (
            sym.join(labels, sym.b == labels.doc_id)
            .groupBy("a")
            .agg(F.min("label").alias("nmin"))
        )
        labels = (
            labels.join(nmin, labels.doc_id == nmin.a, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
    csize = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("community_size")
    )
    out = labels.join(csize, "label").select(
        "doc_id", F.col("label").cast("bigint").alias("label"), "community_size"
    )
    return scope_caches(out, sym)


_LINKPRED_CAP = 16
_LINKPRED_TOPK = 50


def _linkpred_sql() -> str:
    """DuckDB oracle for common-neighbor link prediction. The oracle
    spells the wedge enumeration as the textbook adjacency self-join;
    the Spark side generates the identical wedge multiset row-locally
    from capped per-node adjacency arrays (the co-purchase-pairs /
    triangle-rework pattern). ``AS MATERIALIZED`` on multi-referenced
    CTEs per the kcore lesson."""
    body = f"""
    WITH pairs AS (
        SELECT DISTINCT a.l_partkey AS i, b.l_partkey AS j
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    adjn AS (
        SELECT i AS node, j AS nbr FROM pairs
        UNION ALL
        SELECT j AS node, i AS nbr FROM pairs),
    capped AS (
        SELECT node, nbr FROM (
            SELECT node, nbr,
                   ROW_NUMBER() OVER (PARTITION BY node ORDER BY nbr) AS rn
            FROM adjn) t
        WHERE rn <= {_LINKPRED_CAP}),
    rdeg AS (
        SELECT nbr AS v, CAST(COUNT(*) AS BIGINT) AS d
        FROM capped GROUP BY nbr),
    cn AS (
        SELECT c1.nbr AS a, c2.nbr AS b, CAST(COUNT(*) AS BIGINT) AS common_nbrs
        FROM capped c1 JOIN capped c2
          ON c1.node = c2.node AND c1.nbr < c2.nbr
        GROUP BY c1.nbr, c2.nbr
        HAVING COUNT(*) >= 2),
    nonadj AS (
        SELECT cn.a, cn.b, cn.common_nbrs
        FROM cn LEFT JOIN pairs p ON cn.a = p.i AND cn.b = p.j
        WHERE p.i IS NULL),
    scored AS (
        SELECT n.a, n.b, n.common_nbrs,
               da.d + db.d - n.common_nbrs AS union_deg,
               CAST(n.common_nbrs AS DOUBLE)
                   / CAST(da.d + db.d - n.common_nbrs AS DOUBLE) AS jaccard
        FROM nonadj n
        JOIN rdeg da ON n.a = da.v
        JOIN rdeg db ON n.b = db.v)
    SELECT a, b, common_nbrs, union_deg, jaccard
    FROM (SELECT *, ROW_NUMBER() OVER (
              ORDER BY common_nbrs DESC, union_deg ASC, a ASC, b ASC) AS rn
          FROM scored) t
    WHERE rn <= {_LINKPRED_TOPK}"""
    return body.replace(" AS (", " AS MATERIALIZED (")


@register(
    "graph_common_neighbors_linkpred",
    _linkpred_sql(),
    "graph",
    "similarity",
    "bench",
)
def graph_common_neighbors_linkpred(spark, sf_dir):
    """Link prediction on the co-purchase graph: for every NON-adjacent
    part pair sharing at least one common neighbor, score by
    common-neighbor count and membership-Jaccard (Liben-Nowell &
    Kleinberg 2003's CN/Jaccard predictors — "parts bought with the
    same parts but never together" = substitute/recommendation
    candidates). Neighborhoods are capped at each node's lowest
    {_LINKPRED_CAP} neighbor ids — candidate generation is then
    deterministic AND degree-bounded, the standard guard that keeps
    wedge-grain work from exploding on power-law hubs. Jaccard is exact
    integer counts with ONE final IEEE division (cross-engine safe);
    ranking ties break on integer columns then the unique (a, b) key.

    100 TB posture: the Spark side never runs the oracle's adjacency
    self-join — capped neighbor ARRAYS are built with one node-grain
    shuffle and wedges explode row-locally (fanout <= C({_LINKPRED_CAP},
    2) per node by construction); the common-neighbor count is a
    map-side-combinable agg on (a, b); non-adjacency is one LEFT ANTI
    equi-join against the edge list; the global top-{_LINKPRED_TOPK} is
    a rank window that Spark collapses to WindowGroupLimit partial/final
    top-k (no full sort materialization)."""
    from pyspark.sql import functions as F

    from ..caching import scope_caches

    pairs = _co_purchase_pairs(spark, sf_dir).persist()
    # single-pass symmetric expansion (guide §2.4): the unionAll form
    # scanned the lazily-persisted pairs frame twice, and on the first
    # job (capped.count below) the two branches RACED to build the cache
    # — the full co-purchase pipeline executed twice in one job
    adjn = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("i").alias("node"), F.col("j").alias("nbr")),
                F.struct(F.col("j").alias("node"), F.col("i").alias("nbr")),
            )
        ).alias("e")
    ).select("e.node", "e.nbr")
    # capped feeds THREE consumers (cn once, rdeg twice via da/db);
    # without persist+MATERIALIZE each consumer re-ran the union +
    # node-grain collect_list shuffle from scratch — the r16 per-stage
    # profile showed that exact map/reduce pair executing 3x (stages
    # 39/40/41 + 43/45/47, ~80% of executor time, 26% GC). ONE eager
    # count() here is the whole fix: it also materializes the pairs
    # cache on the way (no separate barrier), and rdeg is deliberately
    # left uncached — it is a trivial explode+groupBy over the CACHED
    # capped frame, so letting the da/db subtree futures each compute
    # it costs far less than a third materialization barrier (r16
    # sweep A/B: extra barriers cost ~1 s at sf0.1 for nothing).
    capped = adjn.groupBy("node").agg(
        F.slice(F.sort_array(F.collect_list("nbr")), 1, _LINKPRED_CAP).alias("nbrs")
    ).persist()
    capped.count()
    rdeg = (
        capped.select(F.explode("nbrs").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    cn = (
        capped.select(F.explode("nbrs").alias("a"), "nbrs")
        .select("a", F.explode(F.expr("filter(nbrs, x -> x > a)")).alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common_nbrs"))
        # support filter (the winnow shared>=2 convention): a single
        # shared neighbor is noise on a near-random graph and would keep
        # ~every wedge-touched pair alive into the anti-join/degree
        # joins — >=2 trims the candidate frame by orders of magnitude
        # right at the first aggregate
        .where(F.col("common_nbrs") >= 2)
    )
    nonadj = cn.join(
        pairs,
        (cn.a == pairs.i) & (cn.b == pairs.j),
        "left_anti",
    )
    da = rdeg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = rdeg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    scored = (
        nonadj.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common_nbrs",
            (F.col("da") + F.col("db") - F.col("common_nbrs")).alias("union_deg"),
            (
                F.col("common_nbrs").cast("double")
                / (F.col("da") + F.col("db") - F.col("common_nbrs")).cast("double")
            ).alias("jaccard"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(
        F.col("common_nbrs").desc(),
        F.col("union_deg").asc(),
        F.col("a").asc(),
        F.col("b").asc(),
    )
    out = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _LINKPRED_TOPK)
        .drop("rn")
        # a/b flow from the (possibly INT-narrowed) pair ids; the declared
        # output schema is BIGINT regardless of the narrowing gate
        .withColumn("a", F.col("a").cast("bigint"))
        .withColumn("b", F.col("b").cast("bigint"))
    )
    return scope_caches(out, pairs, capped)


# ---------------------------------------------------------------------------
# Round 13 — seeded multi-source BFS distance (TrustRank-style)
# ---------------------------------------------------------------------------

_BFS_ROUNDS = 4
_BFS_SEED_MOD = 97
_BFS_INF = 1_000_000_000


def _bfs_sql(dialect: str) -> str:
    """Unrolled min-plus BFS from the seed set over the directed md5
    link graph. INF sentinel keeps every round pure integer MIN — no
    NULL-propagation conventions to align. AS MATERIALIZED on the
    DuckDB side (each round references its predecessor twice)."""
    if dialect == "spark":
        h32 = (
            "cast(conv(substr(md5(concat(cast(doc_id as string), ':', "
            "cast(k as string))), 1, 8), 16, 10) as bigint)"
        )
        vals = f"(VALUES {', '.join(f'({i})' for i in range(1, _FANOUT + 1))} AS t(k))"
    else:
        h32 = (
            "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || "
            "CAST(k AS VARCHAR)), 1, 8))::BIGINT"
        )
        vals = f"(VALUES {', '.join(f'({i})' for i in range(1, _FANOUT + 1))}) t(k)"
    ctes = [
        "n AS (SELECT COUNT(*) AS n_docs FROM documents)",
        "nodes AS (SELECT doc_id FROM documents)",
        f"""edges0 AS (
        SELECT doc_id AS src, {h32} % (SELECT n_docs FROM n) AS dst
        FROM documents CROSS JOIN {vals})""",
        "edges1 AS (SELECT DISTINCT src, dst FROM edges0 WHERE src <> dst)",
        f"""d0 AS (
        SELECT doc_id,
               CASE WHEN doc_id % {_BFS_SEED_MOD} = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST({_BFS_INF} AS BIGINT) END AS dist
        FROM nodes)""",
    ]
    for i in range(1, _BFS_ROUNDS + 1):
        ctes.append(
            f"""p{i} AS (
        SELECT e.dst AS doc_id, MIN(d.dist) + 1 AS relax
        FROM edges1 e JOIN d{i - 1} d ON e.src = d.doc_id
        GROUP BY e.dst)"""
        )
        ctes.append(
            f"""d{i} AS (
        SELECT d.doc_id,
               LEAST(d.dist, COALESCE(p.relax, {_BFS_INF})) AS dist
        FROM d{i - 1} d LEFT JOIN p{i} p ON d.doc_id = p.doc_id)"""
        )
    body = "WITH " + ",\n    ".join(ctes) + f"""
    SELECT doc_id, CAST(dist AS BIGINT) AS dist,
           dist < {_BFS_INF} AS reached
    FROM d{_BFS_ROUNDS}"""
    if dialect != "spark":
        body = body.replace(" AS (", " AS MATERIALIZED (")
    return body


@register(
    "graph_bfs_seed_distance",
    _bfs_sql("duckdb"),
    "graph",
    "curation",
)
def graph_bfs_seed_distance(spark, sf_dir):
    """Multi-source BFS distance from a trusted seed set over the
    DIRECTED md5 link graph — the TrustRank-family curation signal
    (Gyongyi et al. 2004): pages far from every editorially-trusted
    seed are spam/chaff candidates, complementary to PageRank mass and
    k-core depth. Seeds are doc_id % {_BFS_SEED_MOD} == 0; {_BFS_ROUNDS}
    min-plus rounds unrolled (distances are exact within the K-hop
    horizon; unreached rows keep the INF sentinel and reached=false).
    The INF-sentinel formulation keeps every round a pure integer MIN —
    no NULL-propagation conventions to align across engines.

    100 TB posture: per round ONE edges-to-frontier equi-join (edge
    frame built once, hash-partitioned on the join key, persisted) plus
    a node-grain map-side-combinable MIN and a node-grain left join;
    each round's distance frame has two consumers and is
    ``localCheckpoint``-ed, keeping the plan constant in K (the
    kcore/label-propagation convention). A production run loops to
    fixpoint with a driver-side changed-count; the fixed-K prefix is
    the declarative-unroll convention (pagerank K=5)."""
    from pyspark.sql import functions as F

    from ..caching import scope_caches
    from ..sources import load

    docs = load(spark, sf_dir, "documents")["documents"].select("doc_id")
    n_docs = docs.count()
    h32 = (
        "cast(conv(substr(md5(concat(cast(src as string), ':', "
        "cast(k as string))), 1, 8), 16, 10) as bigint)"
    )
    edges = (
        docs.select(
            F.col("doc_id").alias("src"),
            F.explode(F.array(*[F.lit(i) for i in range(1, _FANOUT + 1)])).alias("k"),
        )
        .select("src", F.expr(f"{h32} % {n_docs}").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(spark.sparkContext.defaultParallelism, "src")
        .persist()
    )
    dist = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % _BFS_SEED_MOD == 0, F.lit(0))
        .otherwise(F.lit(_BFS_INF))
        .cast("bigint")
        .alias("dist"),
    )
    for _ in range(_BFS_ROUNDS):
        relax = (
            edges.join(dist, edges.src == dist.doc_id)
            .groupBy("dst")
            .agg((F.min("dist") + 1).alias("relax"))
        )
        dist = (
            dist.join(relax, dist.doc_id == relax.dst, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("dist"),
                    F.coalesce(F.col("relax"), F.lit(_BFS_INF).cast("bigint")),
                ).alias("dist"),
            )
            .localCheckpoint()
        )
    out = dist.select(
        "doc_id",
        F.col("dist").cast("bigint").alias("dist"),
        (F.col("dist") < _BFS_INF).alias("reached"),
    )
    return scope_caches(out, edges)
