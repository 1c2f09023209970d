"""Differential STREAMING fuzzer: stream ≡ batch on generated stateful
shapes (r13 verdict item #4).

The repo's 17 hand-written stream_* registry entries all follow one
mechanical invariant — `availableNow` over a staged file source must
equal the same query run as a batch DataFrame (that is exactly how their
DuckDB oracles are justified). This module fuzzes that invariant: a
seeded generator draws a stateful shape (tumbling/sliding window
aggregate, keyed totals, dropDuplicates, stateless filter+project), then
ONE builder function is applied to both a batch read and a readStream of
the SAME staged multi-file copy of the events table, and the collected
outputs are compared as multisets of shortest-roundtrip cell reprs (the
check_oracle conventions).

Multi-batch execution is part of the surface: the staging step splits
events.parquet into three files with strictly increasing mtimes, and
seeds draw maxFilesPerTrigger ∈ {None, 1, 2}, so availableNow really
replays 1-3 data micro-batches with state carried across batch
boundaries. Only ORDER-INSENSITIVE shapes assert equality (complete-mode
aggregations, append-mode dropDuplicates, stateless maps): with a
watermark, stream-vs-batch equality is genuinely FALSE for late rows —
that documented semantic difference is pinned by the negative-control
witness in tests/test_stream_fuzz.py rather than papered over here.

No DuckDB in this loop: the oracle for a stream is its own batch twin
(both sides are the SAME Spark plan builder, so a divergence means the
streaming runtime — state store, batch planner, trigger handling —
changed the semantics, which is precisely what this sweep watches).
"""

from __future__ import annotations

import os
import random

from pyspark.sql import DataFrame, functions as F

from .rows import norm_rows

__all__ = ["stage_events", "gen_stream_case", "run_stream_seed"]


def stage_events(spark, sf_dir: str, workdir: str, n_files: int = 3) -> str:
    """Split events.parquet into ``n_files`` deterministic files under
    ``workdir`` (by event_id % n_files) with strictly increasing mtimes
    so the file stream's oldest-first pickup order is stable. Idempotent
    PER SOURCE CONTENT: the marker records a fingerprint (size + mtime)
    of the source parquet plus the split count, so a driver-regenerated
    events.parquet re-stages instead of silently fuzzing a stale copy
    (r14 ADVICE)."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "events.parquet")
    # Never stage into the source directory: the re-stage path below
    # deletes files BEFORE reading the source parquet, so workdir ==
    # sf_dir would destroy the source it is about to split (r15 ADVICE).
    if os.path.realpath(workdir) == os.path.realpath(sf_dir):
        raise ValueError(
            f"stage_events: workdir must not be the source directory ({sf_dir})"
        )
    st = os.stat(src)
    fingerprint = f"{n_files}:{st.st_size}:{st.st_mtime_ns}"
    done = os.path.join(workdir, "_staged")
    if os.path.exists(done) and open(done).read() == fingerprint:
        return workdir
    os.makedirs(workdir, exist_ok=True)
    # Only remove files this stager created — a shared/mistargeted
    # workdir must not lose unrelated entries (r15 ADVICE).
    for old in os.listdir(workdir):
        if old == "_staged" or (
            old.startswith("events_") and old.endswith(".parquet")
        ):
            os.unlink(os.path.join(workdir, old))
    tbl = pq.read_table(src)
    mod = np.asarray(tbl.column("event_id")) % n_files
    t0 = 1_700_000_000
    for i in range(n_files):
        part = tbl.filter(pc.equal(mod, i))
        path = os.path.join(workdir, f"events_{i}.parquet")
        pq.write_table(part, path)
        os.utime(path, (t0 + i * 10, t0 + i * 10))
    with open(done, "w") as fh:
        fh.write(fingerprint)
    return workdir


def _read_batch(spark, staged: str) -> DataFrame:
    from .sources.tables import convert_event_ts

    return convert_event_ts(spark.read.parquet(staged))


def _read_stream(spark, staged: str, max_files) -> DataFrame:
    from .sources.tables import convert_event_ts

    schema = spark.read.parquet(staged).schema
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return convert_event_ts(reader.load(staged))


_CENTS = "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"


def gen_stream_case(seed: int):
    """(shape_name, builder, output_mode) for one seed. ``builder`` maps
    an events DataFrame (batch OR stream) to the query frame — one
    builder, two runtimes, which is the whole point."""
    rng = random.Random(seed)
    shape = rng.choice(
        [
            "tumble",
            "slide",
            "keyed_totals",
            "dedup",
            "stateless",
            "session",
            "join2",
            "multibatch_keyed",
            "chained",
        ]
    )
    key_kind = rng.choice(["none", "user_mod", "event_type"])
    k = rng.choice([3, 5, 7])

    def keys(df):
        out = []
        if key_kind == "user_mod":
            out.append((F.abs(F.col("user_id")) % k).alias("kx"))
        elif key_kind == "event_type":
            out.append(F.col("event_type").alias("kx"))
        return out

    if shape == "tumble":
        dur = rng.choice(["30 minutes", "1 hour", "3 hours", "1 day"])

        def build(df):
            g = df.groupBy(F.window("ts", dur).alias("w"), *keys(df))
            return g.agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.expr(f"CAST(SUM({_CENTS}) AS BIGINT)").alias("cents"),
            ).select(
                F.col("w.start").alias("ws"),
                F.col("w.end").alias("we"),
                *(["kx"] if key_kind != "none" else []),
                "n",
                "cents",
            )

        return shape, build, "complete"

    if shape == "slide":
        dur, slide = rng.choice(
            [("2 hours", "1 hour"), ("1 hour", "30 minutes"), ("6 hours", "2 hours")]
        )

        def build(df):
            g = df.groupBy(F.window("ts", dur, slide).alias("w"), *keys(df))
            return g.agg(F.count(F.lit(1)).cast("bigint").alias("n")).select(
                F.col("w.start").alias("ws"),
                F.col("w.end").alias("we"),
                *(["kx"] if key_kind != "none" else []),
                "n",
            )

        return shape, build, "complete"

    if shape == "session":
        # native session_window keyed state: sessions MERGE across
        # micro-batches (maxFilesPerTrigger splits force real merges) —
        # complete mode needs no watermark, so stream ≡ batch holds
        gap = rng.choice(["10 minutes", "30 minutes", "2 hours"])

        def build(df):
            return (
                df.groupBy(
                    F.session_window("ts", gap).alias("w"), "user_id"
                )
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n"),
                    F.expr(f"CAST(SUM({_CENTS}) AS BIGINT)").alias("cents"),
                )
                .select(
                    F.col("w.start").alias("ws"),
                    F.col("w.end").alias("we"),
                    "user_id",
                    "n",
                    "cents",
                )
            )

        return shape, build, "complete"

    if shape == "chained":
        # CHAINED stateful aggregates (SPARK-40925, the
        # stream_hourly_daily_rollup shape, r15 verdict item #5): an
        # append-mode windowed aggregate feeds a second windowed
        # aggregate over window_time(). The stream side carries the
        # watermark; the batch twin applies the two-level finalization
        # convention EXPLICITLY — a level-1 window participates only
        # when wm >= w1.end, a level-2 window emits only when
        # wm >= w2.end, wm = max(ts) - delay — exactly the hand-written
        # rollup oracle's encoding. run_stream_seed pins this shape to
        # a single data micro-batch (max_files=None): with multiple
        # batches the previous-batch watermark drops one-batch-late
        # rows, which batch can't see (the r14 witness); the trailing
        # no-data batches are what flush both levels.
        import datetime as _dt

        delay_s, delta = rng.choice(
            [
                ("30 minutes", _dt.timedelta(minutes=30)),
                ("1 hour", _dt.timedelta(hours=1)),
                ("3 hours", _dt.timedelta(hours=3)),
            ]
        )
        l1 = rng.choice(["1 hour", "2 hours", "3 hours"])
        l2 = rng.choice(["12 hours", "1 day"])
        knames = ["kx"] if key_kind != "none" else []

        def build(df):
            streaming = df.isStreaming
            src = df.withWatermark("ts", delay_s) if streaming else df
            l1agg = src.groupBy(F.window("ts", l1).alias("w1"), *keys(src)).agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.expr(f"CAST(SUM({_CENTS}) AS BIGINT)").alias("cents"),
            )
            wm = None
            if not streaming:
                mx = df.agg(F.max("ts").alias("m")).collect()[0].m
                wm = mx - delta if mx is not None else None
                l1agg = (
                    l1agg.where(F.col("w1.end") <= F.lit(wm))
                    if wm is not None
                    else l1agg.where(F.lit(False))
                )
            l2agg = l1agg.groupBy(
                F.window(F.window_time("w1"), l2).alias("w2"),
                *[F.col(c) for c in knames],
            ).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_sub"),
                F.sum("n").cast("bigint").alias("n_events"),
                F.sum("cents").cast("bigint").alias("cents"),
            )
            out = l2agg.select(
                F.col("w2.start").alias("ws"),
                F.col("w2.end").alias("we"),
                *knames,
                "n_sub",
                "n_events",
                "cents",
            )
            if not streaming:
                out = (
                    out.where(F.col("we") <= F.lit(wm))
                    if wm is not None
                    else out.where(F.lit(False))
                )
            return out

        return shape, build, "append"

    if shape == "join2":
        # Two-stream interval join (the _click_purchase_pipeline shape,
        # r14 verdict item #4a): both sides derive from ONE readStream
        # (streaming self-join — one source to list/plan/offset-track),
        # watermark-FREE inner join so stream ≡ batch holds exactly (a
        # watermark introduces the two-batch-late drop semantics pinned
        # by the negative-control witness). run_stream_seed executes
        # this shape in a state-sized child session: a stream-stream
        # join commits FOUR state stores per shuffle partition per
        # micro-batch.
        ta, tb = rng.choice(
            [
                ("click", "purchase"),
                ("view", "click"),
                ("signup", "purchase"),
                ("view", "error"),
            ]
        )
        iv = rng.choice(["30 minutes", "2 hours", "12 hours"])

        def build(df):
            c = df.where(F.col("event_type") == ta).select(
                "user_id",
                F.col("event_id").alias("a_id"),
                F.col("ts").alias("a_ts"),
            )
            p = df.where(F.col("event_type") == tb).select(
                F.col("user_id").alias("p_user"),
                F.col("event_id").alias("b_id"),
                F.col("ts").alias("b_ts"),
            )
            return c.join(
                p,
                (c["user_id"] == p["p_user"])
                & (p["b_ts"] >= c["a_ts"])
                & (p["b_ts"] <= F.expr(f"a_ts + INTERVAL {iv}")),
            ).select(
                "user_id",
                "a_id",
                "b_id",
                F.expr(
                    "CAST(unix_micros(b_ts) - unix_micros(a_ts) AS BIGINT)"
                ).alias("gap_us"),
            )

        return shape, build, "append"

    if shape == "multibatch_keyed":
        # Four-file staged source forced through maxFilesPerTrigger=1
        # (r14 verdict item #4b): FOUR data micro-batches, so keyed
        # state merges across batch boundaries three times — previously
        # only the hand-written stream_multi_batch_totals exercised
        # this. MIN/MAX aggregates stress the merge path beyond
        # commutative sums.
        with_et = rng.random() < 0.5

        def build(df):
            g = df.groupBy(
                (F.abs(F.col("user_id")) % k).alias("kx"),
                *([F.col("event_type").alias("et")] if with_et else []),
            )
            return g.agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.expr(f"CAST(SUM({_CENTS}) AS BIGINT)").alias("cents"),
                F.expr("CAST(MIN(unix_micros(ts)) AS BIGINT)").alias(
                    "first_us"
                ),
                F.expr("CAST(MAX(unix_micros(ts)) AS BIGINT)").alias(
                    "last_us"
                ),
            )

        return shape, build, "complete"

    if shape == "keyed_totals":
        # resolve EVERY random choice before build() exists: the builder
        # runs twice (batch + stream) and an rng draw inside it would
        # give the two runtimes different queries (caught by seed 7)
        with_et = rng.random() < 0.5

        def build(df):
            g = df.groupBy(
                (F.abs(F.col("user_id")) % k).alias("kx"),
                *([F.col("event_type").alias("et")] if with_et else []),
            )
            return g.agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.expr(f"CAST(SUM({_CENTS}) AS BIGINT)").alias("cents"),
                F.expr("CAST(MAX(unix_micros(ts)) AS BIGINT)").alias("last_us"),
            )

        return shape, build, "complete"

    if shape == "dedup":
        cols = rng.choice(
            [["user_id", "event_type"], ["event_type"], ["user_id"]]
        )

        def build(df):
            return df.select(*cols).dropDuplicates(cols)

        return shape, build, "append"

    # stateless filter + projection — selectivity keyed on event_id (wide
    # value range at every SF; user_id is a SMALL id space and a %100
    # threshold on it silently emptied the first cut, a vacuous pass)
    lo = rng.randint(0, 50)

    def build(df):
        return (
            df.where(
                (F.abs(F.col("event_id")) % 100 >= lo)
                & F.col("event_type").isNotNull()
            )
            .select(
                "event_id",
                (F.abs(F.col("user_id")) % k).alias("kx"),
                F.expr(f"{_CENTS}").alias("cents"),
            )
        )

    return shape, build, "append"


def _norm(df: DataFrame) -> list[str]:
    return norm_rows(df.columns, [tuple(r) for r in df.collect()])


def run_stream_seed(spark, staged, seed: int) -> dict:
    """Run one seed both ways; rec["ok"] is the multiset verdict.

    ``staged`` is either a 3-file staging dir (legacy) or a dict of
    {n_files: dir} — the multibatch_keyed shape requires a "4" entry."""
    from .streaming.events import _run_to_memory, _stream_session

    if isinstance(staged, str):
        staged = {3: staged}
    rng = random.Random(seed ^ 0x5EED)
    max_files = rng.choice([None, 1, 2])
    shape, build, mode = gen_stream_case(seed)
    src = staged[3]
    run_spark = spark
    if shape == "join2":
        # stream-stream joins commit 4 state stores per shuffle
        # partition per micro-batch — size partitions to state volume
        run_spark = _stream_session(spark)
    elif shape == "multibatch_keyed":
        src = staged.get(4, src)
        max_files = 1
    elif shape == "chained":
        # single data batch: multi-batch runs drop one-batch-late rows
        # via the previous-batch watermark, which the batch twin cannot
        # reproduce (r14 witness) — the chained convention is pinned at
        # the final-watermark flush only
        max_files = None
    rec = {"seed": seed, "shape": shape, "max_files": max_files, "mode": mode}
    try:
        batch = _norm(build(_read_batch(run_spark, src)))
        streamed = _norm(
            _run_to_memory(
                build(_read_stream(run_spark, src, max_files)), mode
            )
        )
    except Exception as exc:  # pragma: no cover - generator bug surface
        rec.update(ok=False, err=str(exc)[:400])
        return rec
    if batch != streamed:
        diff = [(a, b) for a, b in zip(batch, streamed) if a != b][:3]
        rec.update(
            ok=False,
            err=f"rows {len(batch)} vs {len(streamed)}, e.g. {diff}",
        )
        return rec
    rec.update(ok=True, n_rows=len(batch))
    return rec
