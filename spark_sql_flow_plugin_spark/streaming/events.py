"""Structured Streaming operators over the events table.

The reference has NO streaming support (SURVEY.md §2.D: "stream" in its sink
names means incremental lineage append) — this module is NEW capability.

Patterns covered:
- file-source readStream → watermark → tumbling-window aggregate →
  availableNow trigger → memory sink (the batch-equivalent streaming rollup);
- stateful per-key running totals (update output mode) whose final state
  matches the batch aggregate;
- batch sessionization (gaps-and-islands) — the SQL-expressible twin of a
  stateful session operator, with an exact oracle.

availableNow processes the backlog then stops, which is what makes these
deterministic and oracle-checkable. On a live cluster the same code runs
continuously; watermarks bound state.
"""

from __future__ import annotations

import json
import os
import uuid
import weakref

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exprs import SQL_DSUM, dsum
from ..registry import register
from ..sources import load

# parent session -> tuned child session (see _stream_session)
_STREAM_SESSIONS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _stream_session(spark: SparkSession) -> SparkSession:
    """Isolated child session with shuffle partitions sized to STREAM
    STATE volume instead of the batch default (r14). Every stateful
    operator opens and commits one state store per shuffle partition per
    micro-batch (a stream-stream join: four), so micro-batch machinery
    is linear in the partition count while the in-flight state of these
    queries is tiny — the r13/r14 splits measured the click-purchase
    pair ~96% machinery at 64 partitions (7.6/16.5 s), and 8 partitions
    took them to 2.1/3.3 s with bit-identical results. A production
    deployment sizes this with peak state, not cores. The caller's
    session is never mutated (the stream_rocksdb isolation discipline);
    RUNTIME_CONFS must be re-applied — newSession does not inherit
    runtime-set confs.

    Memoized per parent session (r14 ADVICE): bench loops and fuzz
    sweeps invoke stream builders repeatedly, and a fresh newSession()
    per call accumulates per-session SQL state and listeners on the
    shared SparkContext. A WeakKeyDictionary keyed on the parent lets
    the child die with it."""
    from ..session import tune

    cached = _STREAM_SESSIONS.get(spark)
    if cached is not None:
        return cached
    s2 = spark.newSession()
    tune(s2)
    s2.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(8, (spark.sparkContext.defaultParallelism or 8) // 4)),
    )
    _STREAM_SESSIONS[spark] = s2
    return s2


def _read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The file source needs a directory; point it at sf_dir and glob-filter
    # down to events.parquet. Schema is the raw one (ts as LONG nanos — see
    # sources.tables.load_events_raw), converted to TIMESTAMP right after.
    # Built on a state-sized child session (_stream_session): every
    # downstream transformation and _run_to_memory inherit it, so ALL
    # event-stream registry queries get the machinery-proportional
    # partition count in one place.
    from ..sources.tables import convert_event_ts, load_events_raw

    spark = _stream_session(spark)
    raw_schema = load_events_raw(spark, sf_dir).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return convert_event_ts(stream)


# Progress of the most recent _run_to_memory execution — bench.py reads
# this to record micro-batch counts (the round-9 drift root cause was an
# UNRECORDED extra no-data micro-batch whose full machinery cost the
# machinery/data split mis-attributed to the data path).
LAST_RUN: dict = {}

_NO_DATA_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"


def _run_to_memory(
    df: DataFrame, output_mode: str, no_data_batches: bool | None = None
) -> DataFrame:
    """Run a streaming DataFrame to a memory sink with availableNow.

    ``no_data_batches=False`` disables the trailing no-data micro-batch
    for queries whose SINK output cannot depend on it (append-mode inner
    joins: the flush batch only advances the watermark to evict state
    and emit outer-join nulls — an inner join emits neither). Each such
    batch costs the FULL per-batch machinery (state-store open+commit on
    every shuffle partition for every join side), which at 64 partitions
    was ~7 s of pure overhead per bench run — half the measured wall
    time of stream_click_purchase_join (round-9 drift investigation,
    artifacts/bench_r09_notes.md). None leaves the session default
    (on) — REQUIRED for watermark-flush semantics: outer joins,
    append-mode aggregations, dropDuplicatesWithinWatermark.
    """
    name = f"stream_{uuid.uuid4().hex[:10]}"
    sess = df.sparkSession
    # distinguish "unset" from an explicit session value: restoring an
    # unset key to the default string would mask a later session-level
    # override being absent vs present
    prev = sess.conf.get(_NO_DATA_KEY, None)
    if no_data_batches is not None:
        sess.conf.set(_NO_DATA_KEY, "true" if no_data_batches else "false")
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if no_data_batches is not None:
            if prev is None:
                sess.conf.unset(_NO_DATA_KEY)
            else:
                sess.conf.set(_NO_DATA_KEY, prev)
    prog = [json.loads(p.json) for p in q.recentProgress]
    LAST_RUN["num_batches"] = len(prog)
    LAST_RUN["add_batch_ms"] = [
        p.get("durationMs", {}).get("addBatch") for p in prog
    ]
    return sess.table(name)


@register(
    "stream_hourly_counts",
    f"""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket, event_type,
           COUNT(*) AS n_events,
           {SQL_DSUM.format(x='value')} AS sum_value
    FROM events GROUP BY date_trunc('hour', CAST(ts AS TIMESTAMP)), event_type
    """,
    "streaming",
)
def stream_hourly_counts(spark, sf_dir):
    """Tumbling 1-hour window aggregate as a stream; availableNow + complete
    output ≡ the batch rollup, so the oracle is plain GROUP BY date_trunc."""
    stream = _read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
    )
    result = _run_to_memory(agg, "complete")
    return result.select(
        F.col("win.start").alias("bucket"), "event_type", "n_events", "sum_value"
    )


@register(
    "stream_user_totals",
    f"""
    SELECT user_id, COUNT(*) AS n_events, {SQL_DSUM.format(x='value')} AS sum_value
    FROM events GROUP BY user_id
    """,
    "streaming",
    "bench",
    "stream-exec",
)
def stream_user_totals(spark, sf_dir):
    """Stateful per-key running totals in update mode; the latest update per
    key equals the batch aggregate (memory sink accumulates updates, so we
    keep the max — counts only grow)."""
    stream = _read_events_stream(spark, sf_dir)
    agg = stream.groupBy("user_id").agg(
        F.count("*").alias("n_events"), dsum("value", "sum_value")
    )
    updates = _run_to_memory(agg, "update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_value")
    )


@register(
    "sessionize_gaps",
    f"""
    WITH flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events) ev),
    numbered AS (
        SELECT user_id, ts, value,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged)
    SELECT user_id, session_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events, {SQL_DSUM.format(x='value')} AS sum_value
    FROM numbered GROUP BY user_id, session_id
    """,
    "streaming",
    "timeseries",
    "bench",
)
def sessionize_gaps(spark, sf_dir):
    """Sessionization (30-min inactivity gap) via gaps-and-islands — one
    window pass + one aggregation, both partitioned by user_id, so the whole
    operator is a single shuffle at any scale."""
    ev = load(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(
            (F.col("ts").cast("long") - F.lag("ts").over(w).cast("long") > 1800)
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    numbered = flagged.withColumn("session_id", F.sum("new_session").over(run))
    return numbered.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        dsum("value", "sum_value"),
    )


@register(
    "stream_dedup_exact",
    """
    SELECT DISTINCT md5(text) AS fp, length(text) AS tlen FROM documents
    """,
    "streaming",
)
def stream_dedup_exact(spark, sf_dir):
    """Streaming INGESTION dedup — the operator a training-data pipeline
    runs at the front door: documents arrive as files, and
    ``dropDuplicates`` on a content fingerprint admits each distinct
    document exactly once. State is the set of fingerprints seen (16-byte
    keys, not documents); on a live pipeline add
    ``withWatermark + dropDuplicatesWithinWatermark`` to bound it.

    availableNow over the static corpus ≡ batch DISTINCT, so the oracle is
    exact. Output is the admitted (fingerprint, length) set — doc_id is
    deliberately NOT included: which copy of a duplicate arrives first is
    nondeterministic under parallel ingestion, the fingerprint set is not.
    """
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    deduped = (
        stream.select(
            F.md5("text").alias("fp"), F.length("text").alias("tlen")
        )
        .dropDuplicates(["fp", "tlen"])
    )
    return _run_to_memory(deduped, "append")


@register(
    "stream_click_purchase_join",
    """
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS gap_s
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    "streaming",
    "bench",
    "stream-exec",
)
def stream_click_purchase_join(spark, sf_dir):
    """Stream-stream interval join: click→purchase attribution within a
    30-minute window. Both sides carry event-time watermarks, so Spark can
    bound the join state (clicks older than watermark − 30 min can never
    match a future purchase and are evicted) — the property that keeps a
    continuous attribution pipeline's state finite. availableNow processes
    the backlog in one batch, where the inner join emits exactly the batch
    interval-join result.

    Both sides derive from ONE readStream (a streaming self-join), not two
    independent file sources: one source to list, plan, and offset-track
    per micro-batch instead of two (round-3 advice — the double readStream
    dominated micro-batch planning time).

    Bench note (r4, sf0.1, local[32]): ~12.6 s min-of-2, of which the data
    itself is ~1 s — the rest is one-time micro-batch machinery: creating
    2×32 HDFS-backed state stores (one per shuffle partition per join
    side), the checkpoint directory, and offset/commit log writes. A
    continuous pipeline pays this once at query start and then holds the
    stores open across micro-batches, so steady-state per-batch cost is
    the data path, not the setup. availableNow re-pays it per bench run by
    design (fresh checkpoint = deterministic, oracle-checkable result).
    """
    return _click_purchase_pipeline(spark, sf_dir)


@register(
    "stream_click_purchase_left",
    """
    WITH c AS (SELECT event_id AS click_id, user_id, ts AS c_ts
               FROM events WHERE event_type = 'click'),
         p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
               FROM events WHERE event_type = 'purchase'),
         wm AS (SELECT least((SELECT max(c_ts) FROM c),
                             (SELECT max(p_ts) FROM p))
                       - INTERVAL 1 HOUR AS w)
    SELECT c.user_id, c.click_id, p.purchase_id,
           CAST(date_diff('second', c.c_ts, p.p_ts) AS BIGINT) AS gap_s
    FROM c JOIN p
      ON c.user_id = p.p_user
     AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE
    UNION ALL
    SELECT c.user_id, c.click_id,
           CAST(NULL AS BIGINT) AS purchase_id, CAST(NULL AS BIGINT) AS gap_s
    FROM c, wm
    WHERE NOT EXISTS
          (SELECT 1 FROM p
           WHERE c.user_id = p.p_user
             AND p.p_ts >= c.c_ts
             AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE)
      AND c.c_ts + INTERVAL 30 MINUTE < wm.w
    """,
    "streaming",
    "stream-exec",
)
def stream_click_purchase_left(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join — the shape the inner
    attribution join cannot express: clicks that never converted are
    emitted with NULL purchase columns, but only once the event-time
    watermark proves no future purchase can match. That proof is the whole
    point of watermarked outer joins (SPARK-24288 family): an unmatched
    click row sits in the left state store until
    ``c_ts + 30 min < globalWatermark`` and only then is it both evicted
    and emitted as a null-extended row; clicks newer than that horizon
    produce NOTHING — not even a null row — because a match could still
    arrive.

    The oracle encodes exactly that semantics rather than a batch left
    join: matched rows are the plain interval join, and the null-extended
    rows are gated on ``c_ts + 30 min < min(max(c_ts), max(p_ts)) − 1 h``
    — the final global watermark of the availableNow run (two watermark
    nodes, min policy; the trailing no-data micro-batch
    (``noDataMicroBatches``, on by default) is what advances the watermark
    past the last data batch and flushes these rows to the sink). A naive
    batch LEFT JOIN oracle would overcount: clicks inside the final
    90-minute horizon are unmatched-but-undecided, and a continuous
    pipeline would hold them in state rather than emit them.

    At 100 TB the same predicate is the state bound: left-state size is
    ~(clicks per 90 min of event time), independent of stream length.
    """
    return _click_purchase_pipeline(spark, sf_dir, how="leftOuter")


def _click_purchase_pipeline(
    spark, sf_dir, empty: bool = False, how: str = "inner"
):
    """The click→purchase interval-join pipeline. ``empty=True`` keeps the
    exact plan shape (same readStream, watermarks, state stores per shuffle
    partition) but filters the source to zero rows — bench.py uses it to
    measure the micro-batch MACHINERY cost of this query shape (state-store
    creation, checkpoint, offset/commit logs) separately from the data
    path.

    State-volume partition sizing comes from _read_events_stream's
    child session (r14) — a stream-stream join opens 4 state stores per
    shuffle partition per micro-batch, so this query was the poster
    child: 7.6/16.5 s -> 2.1/3.3 s at 8 partitions, bit-identical."""
    ev = _read_events_stream(spark, sf_dir)
    if empty:
        ev = ev.where("user_id < 0")
    clicks = (
        ev.where("event_type = 'click'")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.where("event_type = 'purchase'")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "user_id = p_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + interval 30 minutes"
        ),
        how,
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("c_ts")).alias("gap_s"),
    )
    # Inner join in append mode: the sink output is complete after the
    # data batches, so the trailing no-data watermark-flush batch (full
    # per-partition state-store machinery, zero output rows) is skipped.
    # The LEFT OUTER variant must keep it — null-extended rows are only
    # emitted by that flush.
    return _run_to_memory(
        joined, "append", no_data_batches=False if how == "inner" else None
    )


@register(
    "stream_sliding_counts",
    """
    SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes'
               AS window_start,
           event_type, COUNT(*) AS n_events
    FROM events, (SELECT unnest(generate_series(0, 3)) AS k) ks
    GROUP BY 1, 2
    """,
    "streaming",
)
def stream_sliding_counts(spark, sf_dir):
    """Sliding-window aggregate (2-hour window, 30-minute slide): each event
    lands in exactly 4 overlapping windows. The oracle replicates Spark's
    window assignment by fanning each row out to bucket(ts) − k·slide for
    k = 0..3 — the same expansion Spark's window() operator plans internally.
    """
    # No watermark: in complete output mode a watermark bounds NO state (the
    # whole result is re-emitted every trigger) but WOULD drop late rows from
    # the aggregation if the source ever split into multiple micro-batches
    # (multiple files / maxFilesPerTrigger) — a silent divergence from the
    # all-rows oracle. Append-mode variants (stream_hourly etc.) keep their
    # watermarks; there it bounds state and controls emission.
    stream = _read_events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(F.window("ts", "2 hours", "30 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    result = _run_to_memory(agg, "complete")
    return result.select(
        F.col("win.start").alias("window_start"), "event_type", "n_events"
    )


@register(
    "stream_dedup_within_watermark",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    "streaming",
)
def stream_dedup_within_watermark(spark, sf_dir):
    """``dropDuplicatesWithinWatermark``: the state-BOUNDED streaming dedup —
    unlike plain dropDuplicates (whose key state grows forever), keys older
    than the watermark delay are evicted, so a continuous pipeline holds
    state proportional to the delay window, not the stream's lifetime.
    availableNow processes the backlog as one batch (the watermark only
    advances between batches), so no key is evicted mid-run and the output
    is exactly the DISTINCT key set — which is what makes it
    oracle-checkable while still exercising the watermarked state path.
    """
    stream = _read_events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_memory(deduped, "append")


@register(
    "stream_foreach_batch_totals",
    f"""
    SELECT user_id, COUNT(*) AS n_events, {SQL_DSUM.format(x='value')} AS sum_value
    FROM events GROUP BY user_id
    """,
    "streaming",
)
def stream_foreach_batch_totals(spark, sf_dir):
    """``foreachBatch`` sink — the workhorse API for streaming into batch
    targets (warehouses, parquet/Delta tables, JDBC): each micro-batch of
    the update-mode aggregate lands in a ``batch_id=N`` partition, so a
    replayed batch OVERWRITES its own partition instead of double-counting
    (idempotent exactly-once layout). The final read keeps each key's row
    from its latest batch — with availableNow's single batch that is the
    totals themselves, matched against the batch-SQL oracle.
    """
    import shutil

    # per-session suffix + stale-sibling TTL pruning (operators.misc)
    from ..operators.misc import scratch_path

    target = scratch_path(
        spark, f"foreach_totals_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(target, ignore_errors=True)

    stream = _read_events_stream(spark, sf_dir)
    agg = stream.groupBy("user_id").agg(
        F.count("*").alias("n_events"), dsum("value", "sum_value")
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(target)
        )

    q = (
        agg.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    out = spark.read.parquet(target)
    w = Window.partitionBy("user_id").orderBy(F.col("batch_id").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_value")
    )


@register(
    "stream_state_store_read",
    """
    SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
    """,
    "streaming",
)
def stream_state_store_read(spark, sf_dir):
    """State-store data source (Spark 4 ``spark.read.format("statestore")``):
    run a stateful per-key count to a persistent checkpoint, then read the
    operator's STATE back as a batch DataFrame — the ops workflow for
    inspecting, auditing, or repairing a production streaming job's state
    without replaying its input. After availableNow drains the (static)
    backlog, the keyed state IS the batch aggregate, so the oracle is the
    plain GROUP BY — a state-encoding or partition-assignment bug in the
    reader surfaces as a value mismatch.

    At scale: the state read is partition-parallel (one task per state
    store partition, ``partition_id`` exposed) and never touches the
    original source."""
    import shutil
    import uuid as _uuid

    from ..operators.misc import scratch_path

    ckpt = scratch_path(
        spark, f"state_read_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(ckpt, ignore_errors=True)

    agg = _read_events_stream(spark, sf_dir).groupBy("user_id").agg(
        F.count("*").alias("n_events")
    )
    name = f"state_src_{_uuid.uuid4().hex[:10]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").cast("bigint").alias("n_events"),
    )


@register(
    "stream_session_window",
    f"""
    WITH flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events) ev),
    numbered AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged)
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events, {SQL_DSUM.format(x='value')} AS sum_value
    FROM numbered GROUP BY user_id, sid
    """,
    "streaming",
)
def stream_session_window(spark, sf_dir):
    """STREAMING gap-based sessionization: Spark's native ``session_window``
    keyed state merges adjacent sessions as events arrive — the incremental
    twin of the batch ``session_window_agg`` (same gaps-and-islands oracle).

    Complete output mode keeps every closed-and-open session in state so the
    availableNow run over the static backlog is exactly the batch result; a
    live pipeline would run append mode with the watermark bounding session
    state (sessions emit once the watermark passes session_end). State is
    per (user, open session) — merged eagerly, so it scales with concurrent
    active users, not event volume.
    """
    stream = _read_events_stream(spark, sf_dir)
    agg = (
        stream.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, "complete")


@register(
    "stream_rocksdb_user_totals",
    f"""
    SELECT user_id, COUNT(*) AS n_events,
           {SQL_DSUM.format(x='value')} AS sum_value
    FROM events GROUP BY user_id
    """,
    "streaming",
)
def stream_rocksdb_user_totals(spark, sf_dir):
    """The stateful running-totals pipeline on the RocksDB state store —
    the production state backend (bounded executor memory: state lives in
    native RocksDB with changelog/snapshot files under the checkpoint, vs
    the default HDFSBackedStateStore's in-heap map, which OOMs first on a
    100 TB keyspace).

    Session hygiene: the provider class is a session conf, so the query
    runs in a ``spark.newSession()`` — same SparkContext, ISOLATED
    SQLConf — and the caller's session is never mutated (the r3/r4
    verdicts' session-mutation discipline; asserted in tests)."""
    s2 = spark.newSession()
    s2.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = _read_events_stream(s2, sf_dir)
    agg = stream.groupBy("user_id").agg(
        F.count("*").alias("n_events"), dsum("value", "sum_value")
    )
    updates = _run_to_memory(agg, "update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_value")
    )


from ..operators.text import _DUCK_WTOKS as _DUCK_WTOKS_DOC  # noqa: E402

@register(
    "stream_quality_gate",
    rf"""
    WITH t AS (
        SELECT doc_id, {_DUCK_WTOKS_DOC} AS toks FROM documents),
    c AS (
        SELECT doc_id, toks,
               len(toks) AS n_words,
               CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_len,
               len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha_words,
               len(list_filter(['the','a','and','of','to','in','is','it'],
                               s -> list_contains(toks, s))) AS stop_hits
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
           ROUND(CAST(c.sum_len AS DOUBLE) / c.n_words, 6) AS mean_word_len
    FROM c LEFT JOIN bgtop b ON c.doc_id = b.doc_id
    WHERE c.n_words BETWEEN 20 AND 1000
      AND (CAST(c.sum_len AS DOUBLE) / c.n_words) BETWEEN 3.0 AND 10.0
      AND c.stop_hits >= 2
      AND CAST(c.n_alpha_words AS DOUBLE) / c.n_words >= 0.8
      AND COALESCE(CAST(b.top_cnt AS DOUBLE) / b.n_bigrams, 0.0) <= 0.08
    """,
    "streaming",
    "curation",
    "stream-exec",
)
def stream_quality_gate(spark, sf_dir):
    """Streaming INGESTION quality gate: the Gopher rule battery applied to
    documents as they arrive. Every rule — including the top-bigram
    repetition check, thanks to the row-local sorted-array fold — is a
    STATELESS projection+filter, so the streaming plan carries zero state
    stores and zero shuffles: at 100 TB/day this is the front-door filter
    that runs at file-arrival parallelism with nothing to checkpoint but
    source offsets. availableNow over the static corpus ≡ the batch
    filter, so the oracle is exact (same rules as quality_gopher_rules,
    emitting the admitted doc ids with their size metrics).
    """
    from ..operators.text import (
        _GOPHER_BIGRAMS,
        _GOPHER_STOP_HITS,
        _GOPHER_TOP_FOLD,
        _SPARK_WTOKS,
    )

    from ..partitioning import estimated_splits as _estimated_splits

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    # The file-stream source assigns WHOLE files to tasks (no intra-file
    # splitting, unlike the batch parquet scan) — with one test file the
    # entire corpus funnels through a single core and the rule battery
    # serializes (measured 16.6 s vs 0.4 s batch at sf0.1). Production
    # ingest arrives as many files, so parallelism is natural there; gate
    # the repartition on actual split starvation, as augmented_documents
    # does for the batch side.
    n_parts = spark.sparkContext.defaultParallelism
    if _estimated_splits(spark, f"{sf_dir}/documents.parquet") < n_parts:
        stream = stream.repartition(n_parts)
    c = stream.select(
        "doc_id", F.expr(_SPARK_WTOKS).alias("toks")
    ).where(F.size("toks") > 0).select(
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
    keep = (
        F.col("n_words").between(20, 1000)
        & mean_word_len.between(3.0, 10.0)
        & (F.col("stop_hits") >= 2)
        & (F.col("n_alpha_words").cast("double") / F.col("n_words") >= 0.8)
        & (
            F.coalesce(
                F.col("top_cnt").cast("double") / F.col("n_bigrams"), F.lit(0.0)
            )
            <= 0.08
        )
    )
    # keep goes through an explode(array(keep)) Generate BARRIER before the
    # filter: a plain .where(keep) is substituted through the projections
    # by PushDownPredicates all the way into the scan, inlining the `toks`
    # alias into every rule, and because higher-order functions are
    # codegen-fallback the pushed battery evaluates interpreted with no
    # subexpression elimination. No lambda body names `toks` (see
    # operators/text.py), so that costs a fixed number of re-tokenizations
    # per row, not one per token — but it still costs: at sf0.1 on 4 cores
    # (tools/ab.py, 5 rounds, identical rows) the plain filter takes 3.1 s
    # against 1.6 s behind the barrier. rand()-guards don't help — the
    # optimizer folds them and pushes the deterministic conjuncts anyway.
    # Predicates cannot push through Generate, and its input is evaluated
    # once per row, so the battery stays in the stacked-Project stage.
    flagged = c.select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.explode(F.array(keep)).alias("keep"),
    )
    gated = flagged.where("keep").drop("keep")
    return _run_to_memory(gated, "append")


from ..operators.dedup import _DUCK_COSINE as _DUCK_COS_EMB  # noqa: E402


@register(
    "stream_ivf_cell_counts",
    f"""
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
    scored AS (
        SELECT e.vec_id, carr.cent_label,
               ROUND({{cos}}, 6) AS sim
        FROM e CROSS JOIN carr),
    assigned AS (
        SELECT vec_id, cent_label AS cell FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY sim DESC, cent_label) AS rn
            FROM scored) t
        WHERE rn = 1)
    SELECT CAST(cell AS INT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(MIN(vec_id) AS BIGINT) AS min_vec_id
    FROM assigned GROUP BY cell
    """.format(cos=_DUCK_COS_EMB.format(a="e.embedding", b="carr.cvec")),
    "streaming",
    "similarity",
    "stream-exec",
)
def stream_ivf_cell_counts(spark, sf_dir):
    """Online IVF index maintenance: vectors arrive as a stream, each is
    assigned to its nearest TRAINED centroid (the batch-side codebook from
    embedding_centroids, broadcast as one static row), and a stateful
    aggregation maintains per-cell occupancy — the signal an online vector
    index watches for cell rebalancing/retraining. availableNow over the
    static corpus ≡ the batch assignment, so the oracle is exact.

    Scale posture: the codebook is labels x dim doubles — a broadcast
    stream-static join; assignment is a row-local fold (no shuffle); the
    only streaming state is one counter per cell. Tie-break matches
    ann_ivf_trained: highest rounded sim, then smallest cell id (the fold
    scans cells in ascending id order with a strict > comparison).
    """
    from ..partitioning import estimated_splits as _estimated_splits
    from ..operators.similarity import embedding_centroids

    carr = (
        embedding_centroids(spark, sf_dir)
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "centroid"))).alias("pc"))
        .select(
            F.col("label").alias("cent_label"),
            F.expr("transform(pc, x -> x.centroid)").alias("cvec"),
        )
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("cent_label"), F.col("cvec")))
            ).alias("codebook")
        )
    )
    schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "embeddings.parquet")
        .load(sf_dir)
    )
    n_parts = spark.sparkContext.defaultParallelism
    if _estimated_splits(spark, f"{sf_dir}/embeddings.parquet") < n_parts:
        stream = stream.repartition(n_parts)
    dot = (
        "aggregate(zip_with(embedding, x.cvec, "
        "(u, v) -> cast(u as double) * v), 0D, (acc, w) -> acc + w)"
    )
    norm_e = (
        "sqrt(aggregate(transform(embedding, u -> cast(u as double) "
        "* cast(u as double)), 0D, (acc, w) -> acc + w))"
    )
    norm_c = "sqrt(aggregate(transform(x.cvec, v -> v * v), 0D, (acc, w) -> acc + w))"
    cell_fold = (
        "aggregate(codebook, "
        "named_struct('sim', cast(-2.0 as double), 'cell', -1), "
        f"(acc, x) -> IF(round(({dot}) / ({norm_e} * {norm_c}), 6) > acc.sim, "
        f"named_struct('sim', round(({dot}) / ({norm_e} * {norm_c}), 6), "
        "'cell', x.cent_label), acc), "
        "acc -> acc.cell)"
    )
    assigned = stream.crossJoin(F.broadcast(carr)).select(
        "vec_id", F.expr(cell_fold).alias("cell")
    )
    counts = assigned.groupBy("cell").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.min("vec_id").cast("bigint").alias("min_vec_id"),
    ).select(F.col("cell").cast("int").alias("cell"), "n_vectors", "min_vec_id")
    return _run_to_memory(counts, "complete")


@register(
    "stream_hourly_daily_rollup",
    """
    WITH wm AS (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR AS w
                FROM events),
    h AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hs, event_type,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM events
          GROUP BY date_trunc('hour', CAST(ts AS TIMESTAMP)), event_type),
    hf AS (SELECT h.* FROM h, wm WHERE h.hs + INTERVAL 1 HOUR <= wm.w),
    d AS (SELECT CAST(date_trunc('day', hs) AS TIMESTAMP) AS day_start, event_type,
                 CAST(COUNT(*) AS INT) AS n_hours,
                 CAST(SUM(n) AS BIGINT) AS n_events
          FROM hf GROUP BY date_trunc('day', hs), event_type)
    SELECT day_start, event_type, n_hours, n_events,
           CAST(n_events AS DOUBLE) / n_hours AS avg_per_hour
    FROM d, wm
    WHERE d.day_start + INTERVAL 1 DAY <= wm.w
    """,
    "streaming",
    "stream-exec",
)
def stream_hourly_daily_rollup(spark, sf_dir):
    """CHAINED stateful streaming operators (SPARK-40925, Spark 3.5+ /
    4.x): an append-mode hourly windowed aggregate feeding a second,
    daily windowed aggregate over ``window_time()`` — the streaming
    continuous-rollup shape (raw -> hourly -> daily) that previously
    required two jobs glued by a sink.

    Emission semantics the oracle encodes: level 1 finalizes an hour
    window only once the watermark (max event time − 1 h) passes its
    end; level 2 aggregates exactly those finalized rows and finalizes a
    day only once the same watermark passes the day's end — so the last
    partial day (and hour) produce NOTHING, as a continuous pipeline
    would hold them in state. The trailing no-data micro-batch is what
    flushes both levels; ``no_data_batches`` must stay at the session
    default (on).

    State bound at 100 TB: level-1 state is #(event_type x open hours),
    level-2 state is #(event_type x open days) — both independent of
    stream length; the only shuffles are the two window-key exchanges,
    identical to the batch twin's."""
    stream = _read_events_stream(spark, sf_dir)
    hourly = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("hwin"), "event_type")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    daily = (
        hourly.groupBy(
            F.window(F.window_time("hwin"), "1 day").alias("dwin"), "event_type"
        )
        .agg(
            F.count("*").cast("int").alias("n_hours"),
            F.sum("n").cast("bigint").alias("n_events"),
        )
    )
    out = _run_to_memory(daily, "append")
    return out.select(
        F.col("dwin.start").alias("day_start"),
        "event_type",
        "n_hours",
        "n_events",
        (F.col("n_events").cast("double") / F.col("n_hours")).alias("avg_per_hour"),
    )


@register(
    "stream_multi_batch_totals",
    f"""
    SELECT user_id, COUNT(*) AS n_events, {SQL_DSUM.format(x='value')} AS sum_value
    FROM events GROUP BY user_id
    """,
    "streaming",
    "stream-exec",
)
def stream_multi_batch_totals(spark, sf_dir):
    """Per-key running totals accumulated across MULTIPLE real micro-
    batches: the source is staged as four parquet files and read with
    ``maxFilesPerTrigger = 1``, so availableNow executes four data
    batches and the keyed state genuinely EVOLVES batch-over-batch —
    every other streaming entry sees exactly one data batch, which
    exercises state creation but not cross-batch accumulation (the thing
    that actually distinguishes a stateful stream from a batch job; a
    state-merge bug is invisible in a single-batch run). The memory sink
    accumulates per-batch updates; the last update per key (max
    n_events — counts only grow) must equal the one-shot batch
    aggregate, which is the oracle.

    Scale posture: identical to stream_user_totals (keyed state bound by
    |users|, one shuffle per batch); the file-split staging mirrors how
    a production ingest actually arrives — many files, rate-limited by
    read-limit options."""
    import os

    from ..operators.misc import scratch_path
    from ..sources.tables import convert_event_ts

    # stage once per (session, sf): four-file copy of the events table
    stage = scratch_path(
        spark, f"stream4_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    if not os.path.isfile(os.path.join(stage, "_SUCCESS")):
        batch = convert_event_ts(
            spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        )
        batch.repartition(4).write.mode("overwrite").parquet(stage)
    schema = spark.read.parquet(stage).schema
    s2 = _stream_session(spark)  # state-sized partitions (r14)
    stream = (
        s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(stage)
    )
    agg = stream.groupBy("user_id").agg(
        F.count("*").alias("n_events"), dsum("value", "sum_value")
    )
    updates = _run_to_memory(agg, "update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        updates.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_value")
    )
