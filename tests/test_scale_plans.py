"""Physical-plan quality gates: the properties that decide whether these
operators survive a 100 TB run are asserted here, not eyeballed —
predicate pushdown into the parquet scan, column pruning (ReadSchema),
broadcast joins for small dims, no accidental cartesian products, and the
round-2 scale-hardening (band-key cardinality, top-k without a global
window, hash-key shuffles). The oracle can't see a plan regression, only a
value regression — these tests can."""

import os

import pytest

from spark_sql_flow_plugin_spark.operators import dedup, text
from spark_sql_flow_plugin_spark.registry import queries


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushdown_and_pruning(spark, sf_dir):
    df = queries()["q1_pricing_summary"](spark, sf_dir)
    plan = _physical(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # only the 6 needed columns reach the scan — not all 11
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_join_inner_broadcasts_dims(spark, sf_dir):
    plan = _physical(queries()["join_inner"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must never force a sort-merge
    assert "CartesianProduct" not in plan


def test_q5_no_cartesian(spark, sf_dir):
    plan = _physical(queries()["q5_local_supplier_volume"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_semi_join_stays_semi(spark, sf_dir):
    plan = _physical(queries()["join_left_semi"](spark, sf_dir))
    assert "LeftSemi" in plan


def test_minhash_no_cartesian(spark, sf_dir):
    # LSH candidate generation must be an equi-join on (band, key), never a
    # cross join over documents
    plan = _physical(queries()["dedup_minhash_lsh"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    # map-side combine: HashAggregate appears below AND above the exchange
    plan = _physical(queries()["agg_groupby_having"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


# ---------------------------------------------------------------------------
# Round-2 scale-hardening (VERDICT r1 "What's wrong" #2-#5)
# ---------------------------------------------------------------------------


def test_simhash_band_space_is_at_least_16_bits():
    # 16-bit bands over a 64-bit simhash: each band key has 2^16 possible
    # values, so band buckets stay sub-quadratic on a real corpus (the r1
    # version had 8-bit bands = 256 values → quadratic buckets at scale).
    assert dedup._N_SIMHASH_BITS >= 64
    assert dedup._SIMHASH_BAND_BITS >= 16
    assert 2 ** dedup._SIMHASH_BAND_BITS >= 65536
    assert dedup._N_SIMHASH_BANDS * dedup._SIMHASH_BAND_BITS == dedup._N_SIMHASH_BITS


def test_simhash_candidate_join_is_equi_not_nested_loop(spark, sf_dir):
    # The band self-join must be an equi-join on (band_id, bval); an OR of
    # band predicates would plan as BroadcastNestedLoopJoin (quadratic).
    plan = _physical(dedup.dedup_simhash(spark, sf_dir))
    assert "NestedLoop" not in plan
    assert "Cartesian" not in plan


def test_vocab_topk_uses_take_ordered_not_global_window(spark, sf_dir):
    # orderBy().limit(100) compiles to TakeOrderedAndProject (bounded
    # per-partition heap + driver merge); the rank window must sit ABOVE it
    # so it only ever sees 100 rows, never the full distinct-token table.
    plan = _physical(text.text_vocab_stats(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    win_pos = plan.index("Window ")
    topk_pos = plan.index("TakeOrderedAndProject")
    assert win_pos < topk_pos, "window must consume the limited output"
    # the aggregate (full token counts) must feed the top-k, not the window
    assert topk_pos < plan.index("HashAggregate")


def test_embedding_cosine_join_includes_lsh_bucket(spark, sf_dir):
    # Candidate generation must join on (label, bucket), not label alone:
    # a hot label would otherwise go quadratic.
    plan = _physical(dedup.dedup_embedding_cosine(spark, sf_dir))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln and "bucket" in ln]
    assert join_lines, f"no join keyed on bucket in plan:\n{plan[:2000]}"


def test_dedup_exact_shuffles_hash_key_not_text(spark, sf_dir):
    # The aggregate exchange must partition on (md5, length) — 33 bytes per
    # doc — never on the raw text column.
    plan = _physical(dedup.dedup_exact(spark, sf_dir))
    exchange_lines = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert exchange_lines
    for ln in exchange_lines:
        assert "text#" not in ln, f"raw text used as shuffle key: {ln}"


def test_augmented_documents_skips_repartition_when_splits_suffice(spark, sf_dir):
    # The split-starvation repartition is gated: when the scan already has
    # >= defaultParallelism partitions, no extra shuffle is added. At this
    # SF the source IS split-starved, so the repartition should be present.
    aug = dedup.augmented_documents(spark, sf_dir)
    assert aug.rdd.getNumPartitions() >= 1
    assert "Exchange" in _physical(aug)


def test_spread_min_bytes_floor_gates_small_inputs(spark, sf_dir):
    # r16-opt: the tokenize-battery spread gates carry a size floor — a
    # split-starved source BELOW min_bytes keeps the ungated plan (the
    # added exchange measured worse than single-task tokenize at sf0.1),
    # while min_bytes=0 preserves the original always-fire gate.
    from spark_sql_flow_plugin_spark.partitioning import spread

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    size = os.path.getsize(f"{sf_dir}/documents.parquet")
    gated = spread(spark, d, sf_dir, "documents", "doc_id",
                   min_bytes=size + 1)
    assert gated is d, "below-floor source must not be repartitioned"
    fired = spread(spark, d, sf_dir, "documents", "doc_id", min_bytes=0)
    assert fired is not d and "REPARTITION" in _physical(fired)
    # the six bench text queries gate at _SPREAD_MIN_BYTES (2 MiB): at
    # test SFs (<= 0.6 MB) their plans must stay exchange-free at the
    # corpus scan — bm25's first job is the toks persist off `d`
    assert size < text._SPREAD_MIN_BYTES
    plan = _physical(queries()["text_tfidf_top_terms"](spark, sf_dir))
    assert "REPARTITION_BY_NUM" not in plan
    spark.catalog.clearCache()


def test_spread_gate_parses_suffixed_maxpartitionbytes():
    # r16 ADVICE: digit-stripping parsed '128m' as 128 BYTES, so suffixed
    # conf values exploded the estimated split count and silently disabled
    # the starvation gate. The parser must follow
    # JavaUtils.byteStringAsBytes semantics (value x suffix multiplier).
    from spark_sql_flow_plugin_spark.partitioning import _byte_string_as_bytes

    assert _byte_string_as_bytes("134217728b") == 134217728
    assert _byte_string_as_bytes("134217728") == 134217728
    assert _byte_string_as_bytes("128m") == 128 << 20
    assert _byte_string_as_bytes("128M") == 128 << 20
    assert _byte_string_as_bytes("1g") == 1 << 30
    assert _byte_string_as_bytes("2gb") == 2 << 30
    assert _byte_string_as_bytes("512k") == 512 << 10
    # unparseable input falls back to the Spark default, never raises
    assert _byte_string_as_bytes("garbage") == 134217728
    assert _byte_string_as_bytes("") == 134217728
    assert _byte_string_as_bytes("1.5g") == 134217728


def test_size_and_splits_recurses_into_partitioned_layouts(spark, tmp_path):
    # r16 ADVICE: directory sizing must recurse (partitioned parquet is
    # nested: table/part=x/file.parquet) and skip _metadata/.hidden
    # entries; the old getsize-on-subdir version under-reported nested
    # layouts and could judge a large table split-starved.
    from spark_sql_flow_plugin_spark.partitioning import _size_and_splits

    root = tmp_path / "tbl.parquet"
    (root / "part=a").mkdir(parents=True)
    (root / "part=b").mkdir()
    (root / "part=a" / "f0.bin").write_bytes(b"x" * 1000)
    (root / "part=b" / "f1.bin").write_bytes(b"y" * 2000)
    (root / "_SUCCESS").write_bytes(b"")
    (root / "part=a" / ".crc").write_bytes(b"z" * 999)
    size, splits = _size_and_splits(spark, str(root))
    assert size == 3000.0
    assert splits >= 1.0
    # non-statable path: (inf, inf) = "plenty of splits, no shuffle"
    size, splits = _size_and_splits(spark, "/nonexistent/path.parquet")
    assert size == float("inf") and splits == float("inf")


# ---------------------------------------------------------------------------
# Round-2 additions: codebook / incremental-dedup / tf-idf plan gates
# ---------------------------------------------------------------------------


def test_ivf_trained_broadcasts_codebook(spark, sf_dir):
    # the centroid codebook (labels x dim) must be broadcast for assignment;
    # the corpus must never shuffle for scoring
    from spark_sql_flow_plugin_spark.operators import similarity

    plan = _physical(similarity.ann_ivf_trained(spark, sf_dir))
    assert "BroadcastExchange" in plan
    # the probe join is an equi-join on the assigned cell
    assert "Cartesian" not in plan


def test_kmeans_refine_broadcasts_codebook(spark, sf_dir):
    from spark_sql_flow_plugin_spark.operators import similarity

    plan = _physical(similarity.embedding_kmeans_refine(spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "Cartesian" not in plan


def test_incremental_dedup_is_anti_join_on_fingerprints(spark, sf_dir):
    # the archive side must reach the join as fingerprints, not documents
    from spark_sql_flow_plugin_spark.operators import dedup

    plan = _physical(dedup.dedup_incremental_novel(spark, sf_dir))
    assert "LeftAnti" in plan
    join_exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    for ln in join_exchanges:
        assert "text#" not in ln, f"document text shuffled: {ln}"


def test_tfidf_windows_are_partitioned(spark, sf_dir):
    # per-doc top-k must window over doc_id partitions, never a global sort
    from spark_sql_flow_plugin_spark.operators import text

    plan = _physical(text.text_tfidf_top_terms(spark, sf_dir))
    assert "Window" in plan
    for ln in plan.splitlines():
        if "Window " in ln:
            assert "doc_id" in ln, f"unpartitioned window: {ln}"


def test_asof_join_is_window_not_theta_join(spark, sf_dir):
    # the union+window as-of: one shuffle on user_id, NO join in the plan —
    # a theta-join (l.ts >= r.ts) would degenerate to a per-user cross
    # product at scale
    from spark_sql_flow_plugin_spark.operators import timeseries

    plan = _physical(timeseries.asof_join_click_purchase(spark, sf_dir))
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"):
        assert bad not in plan, f"as-of degenerated to {bad}"
    assert "Window" in plan
    for ln in plan.splitlines():
        if "Window " in ln:
            assert "user_id" in ln, f"unpartitioned as-of window: {ln}"


def test_range_join_is_bucketed_equi(spark, sf_dir):
    # candidates come from an equi-join on (user, hour-bucket); the range
    # predicate must be a post-join filter, not the join strategy
    from spark_sql_flow_plugin_spark.operators import timeseries

    plan = _physical(timeseries.range_join_error_views(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    joins = [
        ln
        for ln in plan.splitlines()
        if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln or "BroadcastHashJoin" in ln
    ]
    assert any("bucket" in ln for ln in joins), f"no bucket equi-join: {joins}"


def test_pq_never_shuffles_embeddings(spark, sf_dir):
    # PQ's reason to exist: after the broadcast-codebook cross-score, only
    # (id, subspace, code/distance) rows move — never the 64-float vectors
    from spark_sql_flow_plugin_spark.operators import similarity

    plan = _physical(similarity.ann_pq_adc(spark, sf_dir))
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "embedding#" not in ln, f"embedding vectors shuffled: {ln}"


def test_multiprobe_is_cell_equi_join(spark, sf_dir):
    from spark_sql_flow_plugin_spark.operators import similarity

    plan = _physical(similarity.ann_ivf_multiprobe(spark, sf_dir))
    assert "CartesianProduct" not in plan
    joins = [
        ln
        for ln in plan.splitlines()
        if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln or "BroadcastHashJoin" in ln
    ]
    assert any("cell" in ln for ln in joins), f"no cell equi-join: {joins}"


def test_decontaminate_broadcasts_benchmark_side(spark, sf_dir):
    # the benchmark n-gram set is MBs against a TB corpus: it must broadcast,
    # and the corpus n-gram stream must never cross a cartesian
    plan = _physical(queries()["decontaminate_ngram"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_chunking_and_sampling_are_row_local(spark, sf_dir):
    # sequence chunking and hash-sampling are per-row transforms: any
    # Exchange in the plan means an accidental shuffle of corpus bytes
    for name in ("docs_chunk_tokens", "sample_stratified_hash", "text_repetition_score"):
        plan = _physical(queries()[name](spark, sf_dir))
        assert "Exchange" not in plan, f"{name} shuffles: {plan}"
        assert "BatchScan" in plan or "FileScan" in plan or "Scan parquet" in plan


def test_domain_mix_broadcasts_grand_total(spark, sf_dir):
    # the grand-total row joins back via broadcast (1 row), never a shuffle
    # of the per-source aggregate against itself
    plan = _physical(queries()["domain_mix_rates"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_components_width_is_plan_local(spark, sf_dir):
    # round-3 verdict item #3: the components fixpoint loop used to narrow
    # session-global spark.sql.shuffle.partitions for its duration, so any
    # concurrent query on the shared session silently ran at the narrowed
    # width. The width must now live in the plan (explicit repartition):
    # spark.conf.set must never be called with the shuffle-width key during
    # the whole iteration, and the session value must be byte-identical
    # before/after/throughout.
    conf = spark.conf
    before = conf.get("spark.sql.shuffle.partitions")
    calls = []
    orig_set = conf.set

    def recording_set(key, value):
        calls.append(str(key))
        return orig_set(key, value)

    conf.set = recording_set
    try:
        n = dedup.dedup_components(spark, sf_dir).count()
    finally:
        conf.set = orig_set
    assert n > 0
    assert "spark.sql.shuffle.partitions" not in calls
    assert conf.get("spark.sql.shuffle.partitions") == before


def test_star_components_beats_hashmin_on_chains(spark):
    # round-3 verdict item #4: HashMin needs diameter-many rounds (a 32-node
    # path = ~31 rounds); the two-phase large-star/small-star fixpoint must
    # collapse the same chain in O(log n) rounds with identical labels.
    from pyspark.sql import functions as F

    n = 32
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "u long, v long")
    und = (
        edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .toDF("src", "dst")
        .localCheckpoint()
    )
    hm_labels, hm_rounds = dedup._propagate_min_labels(spark, und, 1)
    st_labels, st_rounds = dedup._two_phase_star_labels(spark, edges.localCheckpoint(), 1)
    assert sorted(r["comp"] for r in hm_labels.collect()) == [0] * n
    assert sorted(r["comp"] for r in st_labels.collect()) == [0] * n
    assert sorted(r["node"] for r in st_labels.collect()) == list(range(n))
    assert st_rounds <= 6 < hm_rounds


def test_new_tpch_shapes_broadcast_dims_no_cartesian(spark, sf_dir):
    # round-4 TPC-H additions: the 8-table q8 and 5-table q9 must broadcast
    # every dim (part/supplier/nation/region) and never cross a cartesian;
    # the filtered part dim must be pruned BEFORE the broadcast exchange
    for name in ("q8_market_share", "q9_product_type_profit"):
        plan = _physical(queries()[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert plan.count("BroadcastHashJoin") >= 3, name


def test_star_and_hashmin_agree_on_random_graph(spark):
    # cross-validation: on a seeded random graph (cycles, chains, isolated
    # pairs, self-dups), both components algorithms must produce the
    # identical (node -> min-of-component) labeling
    import random

    from pyspark.sql import functions as F

    rng = random.Random(42)
    n = 200
    edge_list = list({(rng.randrange(n), rng.randrange(n)) for _ in range(150)})
    edge_list = [(u, v) for u, v in edge_list if u != v]
    edges = spark.createDataFrame(edge_list, "u long, v long")
    und = (
        edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .toDF("src", "dst")
        .localCheckpoint()
    )
    hm_labels, _ = dedup._propagate_min_labels(spark, und, 2)
    st_labels, _ = dedup._two_phase_star_labels(spark, edges.localCheckpoint(), 2)
    hm = {r["node"]: r["comp"] for r in hm_labels.collect()}
    st = {r["node"]: r["comp"] for r in st_labels.collect()}
    assert hm == st


def test_partitioned_write_prunes_directories(spark, sf_dir):
    # the date filter must reach the partitioned scan as a PartitionFilters
    # entry (directory pruning), not a post-scan Filter over all partitions
    plan = _physical(queries()["partitioned_write_prune"](spark, sf_dir))
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), f"empty PartitionFilters: {plan}"


def test_topk_queries_use_take_ordered(spark, sf_dir):
    # ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    # top-k + driver merge), never a global Sort followed by Limit — the
    # difference between shuffling k rows and shuffling the table
    for name in ("q10_returned_items", "q18_large_volume_customer"):
        plan = _physical(queries()[name](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, name


def test_pii_scrub_is_row_local(spark, sf_dir):
    # counting + redaction are pure per-row regex work: any Exchange means
    # an accidental shuffle of corpus bytes
    plan = _physical(queries()["pii_scrub"](spark, sf_dir))
    assert "Exchange" not in plan


def test_pack_sequences_wide_stage_is_chunk_partitioned(spark, sf_dir):
    # the running sum must NOT be a bare Window.partitionBy(source): with
    # ~20 sources that caps parallelism at 20 tasks forever. The two-phase
    # prefix sum windows within (source, chunk) — every data-sized window
    # in the plan must carry the chunk id in its partitioning key
    plan = _physical(queries()["pack_sequences_running"](spark, sf_dir))
    windows = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert windows, plan
    for ln in windows:
        # the only source-partitioned window allowed is the one over the
        # tiny per-chunk offsets table, identifiable by its chunk_toks input
        if "chunk_toks" in ln:
            continue
        assert "chunk" in ln, f"data-sized window not chunk-partitioned: {ln}"


def test_winnow_overlap_is_bucketed_join(spark, sf_dir):
    plan = _physical(queries()["dedup_winnow_overlap"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_recall_eval_approx_side_is_equi_join(spark, sf_dir):
    # the ground-truth side is the documented O(QxN) broadcast cross join
    # (bounded by the 25-query sample); the approximate side must stay a
    # bucket equi-join
    plan = _physical(queries()["ann_recall_at_k"](spark, sf_dir))
    joins = [
        ln
        for ln in plan.splitlines()
        if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln or "BroadcastHashJoin" in ln
    ]
    assert any("bucket" in ln for ln in joins), f"no bucket equi-join: {joins}"


def test_star_components_width_is_plan_local(spark, sf_dir):
    # same invariant as the HashMin variant: the star iteration must never
    # touch session-global shuffle width
    conf = spark.conf
    before = conf.get("spark.sql.shuffle.partitions")
    calls = []
    orig_set = conf.set

    def recording_set(key, value):
        calls.append(str(key))
        return orig_set(key, value)

    conf.set = recording_set
    try:
        n = dedup.dedup_components_star(spark, sf_dir).count()
    finally:
        conf.set = orig_set
    assert n > 0
    assert "spark.sql.shuffle.partitions" not in calls
    assert conf.get("spark.sql.shuffle.partitions") == before


def test_hashmin_raises_on_deep_graph_instead_of_wrong_labels(spark):
    # a 10k-node stress with a planted 500-node chain returned silently
    # UNCONVERGED (wrong) labels under the old round cap; the fixpoint must
    # now refuse loudly and point at the star variant
    import pytest as _pytest

    from pyspark.sql import functions as F

    n = dedup._HASHMIN_MAX_ROUNDS + 10
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], "u long, v long")
    und = (
        edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .toDF("src", "dst")
        .localCheckpoint()
    )
    with _pytest.raises(RuntimeError, match="dedup_components_star"):
        dedup._propagate_min_labels(spark, und, 1)
    # the star variant converges on the same chain in O(log n) rounds
    labels, rounds = dedup._two_phase_star_labels(spark, edges.localCheckpoint(), 1)
    assert rounds <= 8
    assert sorted(r["comp"] for r in labels.collect()) == [0] * (n + 1)


def test_python_datasource_partitioned_read_is_exact_and_stateless(spark):
    # the synthetic_docs source declares 10k rows / 1250-per-partition = 8
    # InputPartitions (distributed read, no single-reader bottleneck)
    from spark_sql_flow_plugin_spark.sources.synthetic import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    df = spark.read.format("synthetic_docs").option("rows", "10000").load()
    assert df.rdd.getNumPartitions() == 8
    # regression guard for the Spark 4.1 scan-cache leak that forced
    # pushFilters OFF (see sources/synthetic.py): a filtered action on the
    # relation must NOT narrow a later unfiltered action on the same df
    assert df.where("doc_id >= 2500 AND doc_id < 3750").count() == 1250
    assert df.count() == 10000
    # boundary exactness: no skipped/double-read rows across partitions
    assert df.select("doc_id").distinct().count() == 10000


def test_variant_extract_is_row_local(spark, sf_dir):
    # variant parse + typed extraction is pure per-row work: any Exchange
    # means an accidental shuffle of event payloads
    plan = _physical(queries()["variant_extract_battery"](spark, sf_dir))
    assert "Exchange" not in plan


def test_quality_model_filter_is_row_local(spark, sf_dir):
    plan = _physical(queries()["quality_model_filter"](spark, sf_dir))
    assert "Exchange" not in plan


def test_source_similarity_joins_vocab_not_corpus(spark, sf_dir):
    # the pair join must consume the DISTINCT (source, token) vocab table —
    # an aggregate must sit below the join on both sides — and never plan a
    # cartesian product
    plan = _physical(queries()["source_similarity_jaccard"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    join_pos = plan.index("SortMergeJoin") if "SortMergeJoin" in plan else plan.index("Join")
    assert "HashAggregate" in plan[join_pos:], "vocab distinct not below the pair join"


# ---------------------------------------------------------------------------
# Round-5 continuation: two-pass heavy hitters + Bloom decontamination
# ---------------------------------------------------------------------------


def test_heavy_hitters_broadcasts_candidates(spark, sf_dir):
    # Pass 2's candidate join must broadcast the tiny MG candidate set —
    # a SortMergeJoin there would shuffle the full token stream, which is
    # exactly what the two-pass design exists to avoid.
    plan = _physical(queries()["freq_heavy_hitters"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # r16-opt continuation 3: the pass-1 spread carries the 2 MiB size
    # floor — below it (every test SF) the plan stays exchange-free at
    # the corpus scan (the ungated shape measured 0.63 -> 0.95 s at
    # sf0.1 in the close benches).
    assert "REPARTITION_BY_NUM" not in plan


def test_bloom_probe_broadcasts_bitmap_words(spark, sf_dir):
    # The corpus n-gram stream probes the packed bloom words via broadcast;
    # the corpus side must never sort-merge against the bitmap.
    plan = _physical(queries()["decontaminate_bloom"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # bit_or word packing really is aggregated (build side), partials included
    assert plan.count("HashAggregate") >= 2


def test_funnel_and_retention_no_cartesian(spark, sf_dir):
    for name in ("events_funnel_steps", "retention_cohorts"):
        plan = _physical(queries()[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_lm_bigram_model_tables_are_aggregated_below_joins(spark, sf_dir):
    # the c12/c1 model tables must be aggregates (vocabulary-sized), and the
    # scoring join must never be a nested loop over the occurrence stream
    plan = _physical(queries()["lm_bigram_score"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 4  # c12, c1 partial+final at least


def test_power_iteration_shuffles_only_dim_partials(spark, sf_dir):
    # the cross-row reduction must partial-aggregate map-side (dim rows per
    # task), and the row-local dot must not introduce any join or extra
    # exchange: exactly ONE shuffle in the whole plan
    plan = _physical(queries()["embedding_power_iteration"](spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") >= 2


def test_sql_udfs_inline_into_codegen(spark, sf_dir):
    # SQL-language UDFs must inline at analysis time: no Python evaluation
    # node anywhere, and the aggregate input stays inside codegen
    plan = _physical(queries()["sql_udf_battery"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    # the UDF body must appear as a plain JVM expression in the aggregate
    assert "(1.0 - d#" in plan or "(1.0 - l_discount" in plan
    # the filter driven by the session VARIABLE still reaches the scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "CartesianProduct" not in plan  # 2-row TVF side broadcasts


def test_tpcds_star_joins_broadcast_dims(spark, sf_dir):
    # the TPC-DS shim dims derive from kB-sized tables (part/supplier/
    # customer): every star join must broadcast them, never SMJ or
    # cartesian, and the fact scan must prune to the consumed columns
    plan = _physical(queries()["tpcds_q3"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # the fact is the materialized shim parquet, pruned to the 3 consumed
    # columns (of the fact's ~26), with the date-sk join key non-null
    # filter pushed into the scan
    assert ".tpcds_shim" in plan
    assert ("struct<ss_sold_date_sk:bigint,ss_item_sk:bigint,"
            "ss_ext_sales_price_cents:bigint>") in plan


def test_tpcds_shim_facts_materialized_once(spark, sf_dir):
    # q23a references store_sales three times; the materialized shim means
    # zero re-derivations of the lineitem x orders join inside the query —
    # every fact reference is a parquet scan of the shim table
    plan = _physical(queries()["tpcds_q23a"](spark, sf_dir))
    assert ".tpcds_shim" in plan
    assert "lineitem" not in plan and "orders" not in plan
    assert "CartesianProduct" not in plan


def test_tpcds_rollup_no_cartesian_facts(spark, sf_dir):
    # q77: six channel CTEs + ROLLUP; the only nested-loop joins allowed
    # are the single-row scalar crosses (catalog cr is a global aggregate)
    plan = _physical(queries()["tpcds_q77"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Expand" in plan  # ROLLUP lowers to Expand


def test_tpcds_q88_reuses_or_broadcasts_scalar_bands(spark, sf_dir):
    # eight single-row counts cross-joined: each cross must be a 1-row
    # broadcast, never a data-sized nested loop
    plan = _physical(queries()["tpcds_q88"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_tpcds_q64_megajoin_no_cartesian(spark, sf_dir):
    # 18-relation join (layered CTEs): every edge is an equi-join, dims
    # broadcast; the year-pair self-join must also be hash, not nested
    plan = _physical(queries()["tpcds_q64"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_tpcds_q14a_intersect_tower_no_cartesian(spark, sf_dir):
    # INTERSECT of three channel scans + UNION ALL re-aggregation under
    # ROLLUP: the only nested-loop allowed is the 1-row avg_sales scalar
    plan = _physical(queries()["tpcds_q14a"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Expand" in plan  # ROLLUP lowers to Expand


def test_tpcds_q75_channel_union_no_cartesian(spark, sf_dir):
    plan = _physical(queries()["tpcds_q75"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# Round-9 operators
# ---------------------------------------------------------------------------

def test_exact_substring_single_hash_exchange(spark, sf_dir):
    # the exact-substring method's cross-doc decision must be ONE
    # exchange on the window hash (min!=max window — no countDistinct
    # expand, no join back: the first cut with groupBy+join re-computed
    # the gram explode twice and ran 2.7x slower) plus one doc_id
    # exchange for span-merge + rollup; and positions, never pairs
    plan = _physical(queries()["dedup_exact_substring_spans"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Expand" not in plan  # the countDistinct shape this replaced
    import re
    keys = re.findall(r"Exchange hashpartitioning\((\w+)#", plan)
    assert keys.count("h") == 1, keys


def test_quality_train_logreg_map_side_combine(spark, sf_dir):
    # each GD iteration must partially aggregate before the exchange
    # (the gradient is 5 BIGINT sums + a count: shuffle traffic is 6
    # numbers per partition, independent of corpus size); result plan
    # here covers the final accuracy pass over the persisted features
    plan = _physical(queries()["quality_train_logreg"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan  # features computed once, reused


def test_semdedup_cell_equijoin_only(spark, sf_dir):
    # codebook broadcast + map-side assignment; the candidate stage is
    # an equi-join on the assigned cell — an all-pairs cross join over
    # the corpus is exactly what SemDeDup exists to avoid
    plan = _physical(queries()["dedup_semantic_semdedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan  # the codebook


def test_gopher_rules_zero_shuffle(spark, sf_dir):
    # the whole filter battery (incl. the top-bigram repetition rule) is
    # one row-local projection: the bigram mode is folded inside the row
    # over the sorted bigram array — no explode, no Exchange anywhere
    plan = _physical(queries()["quality_gopher_rules"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode fallback


def _in_lambda_bodies(plan_json: str, cls: str) -> int:
    """Count the expressions of class `cls` that sit inside a LambdaFunction
    body anywhere in an optimized plan's toJSON (a LambdaFunction's first
    child is its body, the rest are its argument variables)."""
    from spark_sql_flow_plugin_spark.plans.catalyst import _expr_field, parse_plan_json

    def count(e, in_body):
        n = int(in_body and e.cls == cls)
        for i, c in enumerate(e.children):
            n += count(c, in_body or (e.cls == "LambdaFunction" and i == 0))
        return n

    return sum(
        count(expr, False)
        for node in parse_plan_json(plan_json).walk()
        for value in node.raw.values()
        for expr in _expr_field(value)
    )


def test_gopher_rules_filter_keeps_tokenizer_out_of_lambdas(spark, sf_dir):
    # a consumer's filter on keep makes the optimizer inline the `toks`
    # alias into every expression that reads it; a lambda body that names
    # toks then re-tokenizes the document once per array element
    # (O(n_words^2) per row). The tokenizer may only be copied into the
    # array arguments of higher-order functions.
    from pyspark.sql import functions as F

    df = (
        queries()["quality_gopher_rules"](spark, sf_dir)
        .where(F.col("keep") == 1)
        .select("doc_id")
    )
    plan_json = df._jdf.queryExecution().optimizedPlan().toJSON()
    assert "StringSplit" in plan_json
    assert _in_lambda_bodies(plan_json, "StringSplit") == 0


def test_hard_negatives_bucketed_no_cartesian(spark, sf_dir):
    # candidates must come from the 256-bucket equi-join; label/vec_id
    # inequalities are post-join filters, never a nested-loop join
    plan = _physical(queries()["embedding_hard_negatives"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_edges_cached_no_nlj(spark, sf_dir):
    # the edge list is built once and re-joined from cache each iteration
    # (one InMemoryTableScan per round); N is a driver-side scalar, so no
    # 1-row BroadcastNestedLoopJoins sneak in; ranks are the only data
    # shuffled per round
    plan = _physical(queries()["graph_pagerank_centrality"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 5


def test_incremental_minhash_probe_is_equijoin(spark, sf_dir):
    # the batch probes the archive's band index with an equi-join on
    # (band_id, bkey); verify joins are equi-joins on doc ids — ingest
    # cost must scale with the batch, never as archive cross products
    plan = _physical(queries()["dedup_incremental_minhash"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_boilerplate_common_set_broadcast(spark, sf_dir):
    # the common-fingerprint set (df > n_docs/10, small by construction)
    # must come back as a broadcast against the exploded fingerprint
    # stream — re-shuffling the full stream on fp twice is the scale trap
    plan = _physical(queries()["text_boilerplate_df_score"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_gini_diversity_zero_shuffle(spark, sf_dir):
    # per-token counts never leave the row (sorted-array run-length fold):
    # the whole diversity query is one projection
    plan = _physical(queries()["text_gini_diversity"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate" not in plan


def test_colbert_corpus_tokens_stay_in_row(spark, sf_dir):
    # MaxSim runs in the Arrow kernel over whole-row embedding arrays:
    # the corpus token vectors are never exploded — the ONLY Generate is
    # the per-row NQ-score posexplode downstream of the kernel — and the
    # query set is closed over (no join of any kind), so the corpus is
    # scanned once and never shuffled before scoring
    plan = _physical(queries()["colbert_maxsim_topk"](spark, sf_dir))
    assert "ArrowEvalPython" in plan
    assert plan.count("Generate") == 1
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    # the top-k's scale shape is Spark 4's WindowGroupLimit partial/final
    # pushdown (pre-reduces to k rows per partition per query BEFORE the
    # exchange); without it the rank filter runs above an 8-partition
    # global sort over corpus x |Q| rows — pin the rewrite, don't inherit it
    assert plan.count("WindowGroupLimit") >= 2, "top-k lost WindowGroupLimit pushdown"


@pytest.mark.parametrize(
    "qname,min_hits",
    [
        ("text_tfidf_top_terms", 2),
        # rake's rank window sits right above a same-keyed aggregate, so
        # only the Final-mode limit survives (no partial pre-shuffle side)
        ("text_rake_keywords", 1),
        ("ann_bruteforce_topk", 2),
        ("ann_recall_at_k", 4),
        ("dedup_cluster_keep_best", 2),
    ],
)
def test_rank_topk_plans_keep_windowgrouplimit(spark, sf_dir, qname, min_hits):
    # every row_number()-under-rank-filter top-k in the registry relies on
    # the WindowGroupLimit partial/final rewrite to pre-reduce per-partition
    # before the window exchange; a regression (e.g. an added tie-break
    # expression the rule can't push) silently reintroduces a full sort of
    # the pre-filter frame — gate the rewrite everywhere it's load-bearing
    plan = _physical(queries()[qname](spark, sf_dir))
    assert plan.count("WindowGroupLimit") >= min_hits, (
        f"{qname} lost WindowGroupLimit pushdown"
    )


def test_pq_rerank_shortlist_join_no_cartesian(spark, sf_dir):
    # stage 2 joins the |Q| x 20 shortlist back to the vector table on
    # vec_id — equi-joins only; the corpus is never crossed with itself
    plan = _physical(queries()["ann_pq_rerank"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the only nested-loop joins allowed are the broadcast codebook
    # crosses (labels x M rows, one per branch: corpus encode + query
    # distance tables — same shape as ann_pq_adc stage 1)
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_knn_agreement_bucketed_no_cartesian(spark, sf_dir):
    # neighbor candidates come from the sign-bucket equi-join (occupancy-
    # scheduled bit width); the vec_id inequality is a post-join filter
    plan = _physical(queries()["knn_label_agreement"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_models_broadcast_corpus_never_reshuffled(spark, sf_dir):
    # the 1024-bucket models (and the 1-row totals) must come back to the
    # raw token stream as broadcasts; the corpus token stream shuffles
    # only for the model build and the final per-doc rollup
    plan = _physical(queries()["dsir_importance_weights"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_domain_mix_temperature_single_agg_pass(spark, sf_dir):
    # per-source totals are one partial-aggregated groupBy; grand total
    # and normalization are 1-row broadcast frames — no driver collect,
    # no re-scan of documents for the second normalization
    plan = _physical(queries()["domain_mix_temperature"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "CartesianProduct" not in plan


def test_binaryfile_scan_reads_whole_files(spark, sf_dir):
    # the binaryFile relation plans one task per file and the projection
    # keeps only the consumed columns
    df = queries()["source_binaryfile_stats"](spark, sf_dir)
    plan = _physical(df)
    assert "binaryFile" in plan or "BinaryFile" in plan
    assert "Exchange" not in plan  # pure scan + projection, no shuffle


def test_fertility_recursion_is_vocab_sized(spark, sf_dir):
    # the BPE recursion and the final join run over the distinct-word
    # vocabulary; corpus-scale work is the two tokenize/count passes.
    # No cartesian/NLJ anywhere in the recursive plan.
    plan = _physical(queries()["tokenizer_fertility_stats"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_compliance_tombstones_broadcast(spark, sf_dir):
    # the tombstone list is request-sized: it must broadcast; the corpus
    # is fingerprinted row-locally and shuffles only for the per-source agg
    plan = _physical(queries()["compliance_delete_audit"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_time_weighted_avg_single_shuffle_no_self_join(spark, sf_dir):
    # LEAD and the aggregation share the (user, day) exchange; the naive
    # events-to-next-events self-join must not appear
    plan = _physical(queries()["events_time_weighted_avg"](spark, sf_dir))
    assert "Join" not in plan  # no join of any kind
    assert plan.count("Exchange") <= 2  # window + final agg (AQE may fuse)


def test_matryoshka_single_corpus_scan_in_row_variants(spark, sf_dir):
    # each corpus vector scores all four prefix lengths in-row: the dims
    # table and the query sample are broadcast; no Generate over corpus
    # vectors, no cartesian between corpus rows
    plan = _physical(queries()["embedding_matryoshka_recall"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # corpus x queries x dims are broadcast nested-loop crosses of tiny
    # sides (query sample, 4-row dims). The only sort-merge allowed is
    # the topk-vs-topk overlap join — k x |Q| x |dims| rows by
    # construction, keyed on (query_id, neighbor_id); an SMJ on corpus
    # embedding columns would mean corpus-vs-corpus and must not appear.
    for ln in plan.splitlines():
        if "SortMergeJoin" in ln:
            assert "query_id" in ln and "neighbor_id" in ln, ln


def test_pipe_syntax_gets_same_optimizations(spark, sf_dir):
    # pipe SQL compiles to ordinary logical plans: the WHERE pushes into
    # the parquet scan and the aggregate partial-aggregates map-side,
    # exactly as the ANSI form would
    plan = _physical(queries()["sql_pipe_syntax_battery"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" in plan
    assert plan.count("HashAggregate") >= 2


def test_ensemble_joins_scored_ids_never_text(spark, sf_dir):
    # the agreement matrix joins three per-doc keep columns on doc_id and
    # reduces to <= 8 rows; document text must never be a shuffle key
    plan = _physical(queries()["quality_ensemble_agreement"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln, f"document text shuffled: {ln}"


def test_basket_pairs_equijoin_on_basket_key(spark, sf_dir):
    # the pair generator must be an equi-join on the basket key (item
    # inequality as post-join filter); item totals and the basket count
    # come back as broadcasts
    plan = _physical(queries()["market_basket_lift"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_rfm_windows_over_reduced_customer_frame(spark, sf_dir):
    # the three NTILE windows must consume the customer-level aggregate
    # (HashAggregate below the Window), never the raw orders stream
    plan = _physical(queries()["rfm_segmentation"](spark, sf_dir))
    assert "Window" in plan
    # plan text lists top operators first: the customer-level aggregate
    # (keys=[o_custkey...]) must appear BELOW (after) the last Window —
    # the windows consume the reduced frame, not raw orders
    assert plan.rindex("HashAggregate(keys=[o_custkey") > plan.rindex("Window")
    assert "CartesianProduct" not in plan


def test_rake_topk_windows_partitioned_by_doc(spark, sf_dir):
    # per-doc top-k must partition by doc_id; word stats join on the
    # vocabulary key — no cartesian anywhere
    plan = _physical(queries()["text_rake_keywords"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    rank_lines = [
        ln for ln in plan.splitlines()
        if "Window" in ln and "row_number" in ln and "rnk" in ln
    ]
    assert any("doc_id" in ln for ln in rank_lines), rank_lines


def test_cluster_balanced_sampler_broadcast_assignment(spark, sf_dir):
    # centroid assignment must be the broadcast-codebook score (corpus
    # never shuffles for it); rank+count share one cell-keyed exchange
    plan = _physical(queries()["sample_cluster_balanced"](spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_cohort_ltv_window_per_cohort_no_cartesian(spark, sf_dir):
    plan = _physical(queries()["orders_cohort_ltv"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "Window " in ln:
            assert "cohort" in ln, f"running sum not partitioned: {ln}"


def test_drift_chi2_single_bucket_agg(spark, sf_dir):
    # one 256-key aggregation with map-side combine; totals broadcast back
    plan = _physical(queries()["corpus_drift_chi2"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_lsh_calibration_pair_scale_joins(spark, sf_dir):
    # candidates from the banded equi-join; signature joins keyed on doc
    # ids — no cartesian, no nested loop
    plan = _physical(queries()["dedup_lsh_calibration"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --------------------------------------------------------------------------
# Round 11 operators
# --------------------------------------------------------------------------


def test_triangle_count_equi_joins_only(spark, sf_dir):
    # pair generation is order-local; orientation + adjacency attach are
    # EQUI-joins on vertex keys — a cartesian or NLJ here is the classic
    # N^2 trap. The degree orientation (Schank-Wagner) must be visible:
    # the closure explodes array_intersect over per-source adjacency
    # (one Generate each for the corner fan-out and the intersection),
    # and the O(|E|^1.5) wedge frame must never hit an exchange — no
    # shuffle on a wedge-shaped (src, b, c) key set, and pairs/edges are
    # persisted (no re-run of the lineitem self-join per consumer)
    plan = _physical(queries()["graph_triangle_count"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "array_intersect" in plan, "degree-oriented closure missing"
    assert plan.count("InMemoryTableScan") >= 3  # edges x2(adj)+arcs or pairs
    spark.catalog.clearCache()


def test_incremental_refresh_merges_partials(spark, sf_dir):
    # base and delta branches partial-aggregate before the union; the
    # final merge re-aggregates at (month x flag) grain — the monoid
    # merge, not a rescan. Both branch joins stay equi-joins.
    plan = _physical(queries()["incremental_join_agg_refresh"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 4  # 2 branches x partial+final
    assert "Union" in plan
    assert "CartesianProduct" not in plan


def test_length_histogram_reduces_before_window(spark, sf_dir):
    # corpus-scale work is one groupBy to <=64 histogram rows; the
    # running-share window and totals broadcast run on that reduced frame
    plan = _physical(queries()["curation_length_histogram"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # tokenize happens once: a single scan of documents
    assert plan.count("documents.parquet") <= 2


def test_epoch_schedule_broadcast_totals(spark, sf_dir):
    # domain-grain agg; 1-row totals come back as a broadcast
    plan = _physical(queries()["curation_epoch_schedule"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert plan.count("HashAggregate") >= 2


def test_anomaly_mad_single_corpus_shuffle(spark, sf_dir):
    # raw events shuffle ONCE to (user, day); the daily and deviation
    # frames are cached so the med/MAD/flag stages read
    # InMemoryTableScan, never re-deriving the rollup from raw events
    # (the parquet path still PRINTS inside each InMemoryRelation block,
    # so assert on the cache nodes, not the path count)
    plan = _physical(queries()["events_anomaly_mad"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("InMemoryTableScan") >= 2
    spark.catalog.clearCache()


def test_range_search_prune_is_barriered(spark, sf_dir):
    # the Generate barrier must keep the final threshold filter from
    # collapsing into the prune stage (which would evaluate the full
    # 64-dim cosine on every pair — the HOF-pushdown cost trap); the
    # only join is the broadcast 8-row query set
    plan = _physical(queries()["ann_range_search"](spark, sf_dir))
    assert plan.count("Generate") == 1
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan
    gen = plan.index("Generate")
    # prune filter (block-norm bound) sits BELOW the barrier, exact
    # cosine threshold sits ABOVE it — physical plans print top-down, so
    # the rounded exact-cosine expression must appear only before the
    # Generate line and never in the subtree under it (where the prune's
    # un-rounded block-norm bound lives)
    above, below = plan[:gen], plan[gen:]
    assert "round(" in above, "exact cosine threshold missing above the barrier"
    assert "round(" not in below, "exact cosine leaked below the Generate barrier"


def test_cusum_windows_share_user_day_sort(spark, sf_dir):
    # prefix sum and running min are both (user, day-order) windows over
    # the daily frame — one corpus shuffle, windows partitioned by user
    plan = _physical(queries()["events_cusum_drift"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    for ln in plan.splitlines():
        if "Window " in ln:
            assert "user_id" in ln, f"unpartitioned window: {ln}"


def test_abc_pareto_window_over_part_grain(spark, sf_dir):
    # the global Pareto running sum must consume the part-grain rollup
    # (window above the aggregate), and the grand total broadcasts
    plan = _physical(queries()["orders_abc_pareto"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert plan.index("Window") < plan.index("HashAggregate")


def test_audio_vad_zero_shuffle_row_local(spark, sf_dir):
    # a clip's frames never leave their row: the whole VAD pipeline is
    # one batched mapInPandas over the doc scan. r16-opt: the gated
    # spread() repartition of the single-split source is the ONLY
    # allowed exchange — it carries just the 8-byte doc_id BELOW the
    # Python node (no payload ever crosses a shuffle; payloads are
    # synthesized inside the kernel).
    plan = _physical(queries()["multimodal_audio_vad"](spark, sf_dir))
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert all("REPARTITION_BY_NUM" in ln for ln in exchanges), exchanges
    assert len(exchanges) <= 1
    if exchanges:
        # the repartition must sit below the Python eval (input ids),
        # never above it (which would shuffle kernel output rows)
        assert plan.index("InPandas") < plan.index("REPARTITION_BY_NUM")
    assert "FlatMapGroupsInPandas" not in plan  # mapInPandas, not grouped


def test_containment_candidates_banded_never_all_pairs(spark, sf_dir):
    # same scale shape as winnow_overlap: hot-fp broadcast anti-join,
    # fingerprint equi-join candidates, pair-grain direction/score joins
    plan = _physical(queries()["dedup_containment"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan  # the df-cap hot-set filter
    spark.catalog.clearCache()


# --------------------------------------------------------------------------
# Round 12 operators
# --------------------------------------------------------------------------


def test_kcore_rounds_reuse_cached_edges(spark, sf_dir):
    # since the r13 localCheckpoint rework each peel round TRUNCATES its
    # lineage: the final plan is only the last degree aggregation over a
    # checkpointed leaf (Scan ExistingRDD) — the lineitem self-join and
    # every earlier round are materialized exactly once, never re-run
    # (the constant-plan-size-in-K gate lives in
    # test_round13_properties.test_kcore_plan_size_constant_in_rounds);
    # and the plan stays free of crosses
    plan = _physical(queries()["graph_kcore_peel"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan ExistingRDD" in plan  # checkpointed round frame leaf
    assert "lineitem" not in plan  # base scan never re-derived in the tail
    spark.catalog.clearCache()


def test_binary_rerank_is_two_stage(spark, sf_dir):
    # stage 1 must be pure bit work (bit_count over packed words) under
    # the Hamming WindowGroupLimit; the exact cosine (zip_with fold) must
    # sit ABOVE the shortlist limit, evaluated only on Q x SHORTLIST rows
    # — plans print top-down, so the cosine appears before the LAST
    # (deepest) WindowGroupLimit and the bit work after the cosine
    plan = _physical(queries()["ann_binary_sign_rerank"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1  # 8-row query cross
    assert plan.count("WindowGroupLimit") >= 3  # rnk final + hrnk partial/final
    assert "bit_count" in plan
    assert plan.index("zip_with") < plan.rindex("WindowGroupLimit"), (
        "exact cosine leaked below the Hamming shortlist limit"
    )
    assert plan.index("bit_count") > plan.index("zip_with")


def test_bbit_minhash_no_allpairs(spark, sf_dir):
    # candidates come from the banded LSH join; signature/shingle
    # attachments are doc-grain equi-joins over the persisted frames
    plan = _physical(queries()["dedup_bbit_minhash"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("InMemoryTableScan") >= 2  # sets + sig caches
    spark.catalog.clearCache()


def test_hits_rounds_reuse_cached_edges(spark, sf_dir):
    # both per-round joins (hub->auth and auth->hub) must consume the
    # persisted edge list — CTE inlining would re-derive the md5 edge
    # set 2K times; and every join is an equi-join on a vertex key
    plan = _physical(queries()["graph_hits_hubs_authorities"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("InMemoryTableScan") >= 8  # 2 joins x 4 rounds
    spark.catalog.clearCache()


def test_kneser_ney_model_tables_cached(spark, sf_dir):
    # the occurrence stream and the bigram-type table are each consumed
    # by multiple model aggregates/joins — both must come back as cache
    # scans, and every model join is a key equi-join (Zipfian keys rely
    # on AQE skew splitting, never a nested loop)
    plan = _physical(queries()["lm_kneser_ney_score"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("InMemoryTableScan") >= 4  # big x2+, c12 x2
    spark.catalog.clearCache()


def test_cdc_chunking_is_row_local(spark, sf_dir):
    # chunking never shuffles raw text: exactly one Generate (the chunk
    # explode), the chunk filter sits ABOVE it (Generate barrier — a
    # pushed filter would re-inline the whole boundary HOF battery), and
    # every exchange is keyed on the md5 chunk hash, never text
    plan = _physical(queries()["dedup_cdc_chunks"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the cached chunk frame's plan prints once per consumer, so count
    # DISTINCT generator expressions instead of Generate lines
    gens = {
        ln.split("Generate ", 1)[1][:40]
        for ln in plan.splitlines()
        if "Generate " in ln
    }
    assert len(gens) == 1, f"unexpected extra generators: {gens}"
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text#" not in ln and "chunk#" not in ln, (
                f"raw text/chunk shuffled: {ln}"
            )
    spark.catalog.clearCache()


def test_bm25_query_set_broadcast_topk_bounded(spark, sf_dir):
    # the 11-row query term set must reach the postings join as a
    # broadcast (never shuffling corpus tokens against it with a
    # sort-merge), and the per-query top-k must be a WindowGroupLimit —
    # a global sort of all scored candidates would not survive 100 TB
    plan = _physical(queries()["bm25_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "WindowGroupLimit" in plan
    spark.catalog.clearCache()


def test_linkpred_wedges_row_local_no_cartesian(spark, sf_dir):
    # candidate generation must stay the row-local array explosion —
    # never the oracle's adjacency self-join or a cross — and the
    # global top-50 rank filter must keep the WindowGroupLimit rewrite
    plan = _physical(queries()["graph_common_neighbors_linkpred"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the UN-partitioned rank window gets the even stronger rewrite:
    # LimitPushDownThroughWindow turns the rn<=k filter into a pushed
    # TakeOrderedAndProject(limit=50) BELOW the window — the top-k never
    # materializes a full global sort
    assert "TakeOrderedAndProject(limit=50" in plan, "top-k lost limit pushdown"
