"""Real Structured Streaming behavior: file source + AvailableNow +
checkpoint idempotency, and stream-vs-batch window parity (SURVEY.md
§2.9 / §5.3)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from capital.io import load_table
from capital.schemas import EVENTS
from capital.streaming.incremental import (
    dedup_within_watermark,
    incremental_partition_overwrite,
    incremental_run,
    tumbling_counts,
)


def _write_batches(spark, sf_dir, src_dir):
    ev = load_table(spark, sf_dir, "events")
    # Two arrival batches — the "one partition per logical date" model.
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    return ev


def test_incremental_availablenow_and_checkpoint_idempotency(
    spark, sf_dir, tmp_path
):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    ev = _write_batches(spark, sf_dir, src)

    q = incremental_run(
        spark, src, EVENTS, lambda df: df, sink, ckpt
    )
    q.awaitTermination(120)
    first = spark.read.parquet(sink)
    assert first.count() == ev.count()

    # Re-run with same checkpoint: bookmark semantics → nothing new.
    q2 = incremental_run(spark, src, EVENTS, lambda df: df, sink, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(sink).count() == ev.count()

    # New file arrives → only it is processed on the next run.
    ev.limit(10).coalesce(1).write.mode("append").parquet(src)
    q3 = incremental_run(spark, src, EVENTS, lambda df: df, sink, ckpt)
    q3.awaitTermination(120)
    assert spark.read.parquet(sink).count() == ev.count() + 10


def test_incremental_partition_overwrite_idempotent_replay(
    spark, sf_dir, tmp_path
):
    """A replayed micro-batch must overwrite its ymd partitions, not
    duplicate them (exactly-once per partition)."""
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ev = load_table(spark, sf_dir, "events")
    ev.coalesce(1).write.mode("append").parquet(src)

    def stamp(df):
        return df.withColumn("ymd", F.to_date("ts"))

    q = incremental_partition_overwrite(
        spark, src, EVENTS, stamp, sink, str(tmp_path / "ckpt1")
    )
    q.awaitTermination(120)
    n1 = spark.read.parquet(sink).count()
    assert n1 == ev.count()

    # Simulate a replay: fresh checkpoint, same source, same sink —
    # partitions are overwritten, counts unchanged.
    q2 = incremental_partition_overwrite(
        spark, src, EVENTS, stamp, sink, str(tmp_path / "ckpt2")
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(sink).count() == n1


def test_stream_dedup_within_watermark(spark, sf_dir, tmp_path):
    """Re-delivered events (the retry path) must not double-count."""
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    ev = load_table(spark, sf_dir, "events").limit(200)
    ev.coalesce(1).write.mode("append").parquet(src)
    ev.limit(50).coalesce(1).write.mode("append").parquet(src)  # redelivery

    q = incremental_run(
        spark,
        src,
        EVENTS,
        lambda df: dedup_within_watermark(
            df, ["event_id"], watermark="10 days"
        ),
        sink,
        ckpt,
    )
    q.awaitTermination(180)
    out = spark.read.parquet(sink)
    assert out.count() == 200  # duplicates dropped
    assert out.select("event_id").distinct().count() == 200


def test_streaming_bloom_prefilter_matches_batch(spark, sf_dir, tmp_path):
    """Streaming decontamination: the Bloom prefilter is pure
    projections + stream-static broadcast joins, so it gates a stream
    per micro-batch with no state store — streamed output must equal
    the batch prefilter over the same data."""
    from capital.llm.bloom import bloom_prefilter

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    ev = _write_batches(spark, sf_dir, src)
    members = (
        ev.select("user_id").distinct().filter(F.col("user_id") % 2 == 0)
    )

    q = incremental_run(
        spark,
        src,
        EVENTS,
        lambda df: bloom_prefilter(df, members, "user_id", "user_id"),
        sink,
        ckpt,
    )
    q.awaitTermination(180)
    streamed = {tuple(r) for r in spark.read.parquet(sink).collect()}
    batch = {
        tuple(r) for r in bloom_prefilter(ev, members, "user_id", "user_id").collect()
    }
    assert streamed == batch
    # The filter passed every true member row (no false negatives).
    exact = ev.join(members, "user_id").count()
    assert len(batch) >= exact > 0


def test_stream_window_agg_matches_batch(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    ev = _write_batches(spark, sf_dir, src)

    q = incremental_run(
        spark,
        src,
        EVENTS,
        lambda df: tumbling_counts(df, "1 hour", watermark="2 hours"),
        sink,
        ckpt,
    )
    q.awaitTermination(180)

    streamed = spark.read.parquet(sink)
    batch = tumbling_counts(ev, "1 hour")
    s_rows = {tuple(r) for r in streamed.collect()}
    b_rows = {tuple(r) for r in batch.collect()}
    # Append mode only emits windows the watermark has finalized: the
    # streamed set is a prefix of the batch truth (tail windows within
    # the 2h watermark of max event time are withheld).
    assert s_rows <= b_rows
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    finalized = {
        tuple(r)
        for r in batch.collect()
        # window_end strictly below the most conservative final watermark
        if (max_ts - r.window_end).total_seconds() > 3 * 3600
    }
    assert finalized <= s_rows
    assert len(s_rows) > 0


def test_session_windows_batch_matches_native_session_window(spark, sf_dir):
    """The batch lag/running-sum reformulation in ``session_windows``
    must emit exactly what Spark's native ``session_window`` aggregate
    (the streaming path's operator, also runnable in batch via
    MergingSessions) produces — same sessions, same bounds, same
    counts."""
    from capital.streaming.incremental import session_windows

    ev = load_table(spark, sf_dir, "events")
    engine = session_windows(ev, gap="30 minutes")
    native = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(
            F.session_window("ts", "30 minutes").alias("win"),
            F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )
    e_rows = {tuple(r) for r in engine.collect()}
    n_rows = {tuple(r) for r in native.collect()}
    assert len(e_rows) > 0
    assert e_rows == n_rows


def test_stream_static_enrich_matches_batch_join(spark, sf_dir, tmp_path):
    from capital.streaming.incremental import stream_static_enrich

    src = str(tmp_path / "enrich_src")
    ev = _write_batches(spark, sf_dir, src)
    dim = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )

    stream = spark.readStream.schema(EVENTS).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        stream_static_enrich(stream, dim, on="user_id")
        .select("event_id", "user_id", "segment")
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {tuple(r) for r in spark.sql("SELECT * FROM enriched").collect()}
    want = {
        tuple(r)
        for r in ev.join(dim, "user_id", "left")
        .select("event_id", "user_id", "segment")
        .collect()
    }
    assert got == want
    # The enrichment must actually attach segments for known users.
    assert any(seg is not None for (_, _, seg) in got)


def test_streaming_incremental_dedup_against_stored_index(spark, tmp_path):
    """The growing-lake dedup loop, end to end on a real stream: each
    micro-batch probes the band-partitioned LSH index table, flags
    collisions with history, and appends its own band keys — so later
    batches dedup against everything before them without re-shingling
    it."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from capital.llm.dedup import (
        band_keys,
        incremental_neardup_flags,
        minhash_signatures,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]
    )
    src = str(tmp_path / "src")
    index_dir = str(tmp_path / "index")
    flags_dir = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")

    day1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "totally different first day content here folks")],
        schema,
    )
    # Seed the index with day-1 history (the prior batch's append).
    band_keys(minhash_signatures(day1, num_hashes=16), bands=4,
              rows_per_band=4).write.mode("append").parquet(index_dir)

    day2 = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
         (11, "genuinely novel second day material nothing shared")],
        schema,
    )
    day2.coalesce(1).write.mode("append").parquet(src)

    def _probe_and_append(batch_df, batch_id):
        index = batch_df.sparkSession.read.parquet(index_dir)
        flags = incremental_neardup_flags(
            batch_df, index, num_hashes=16, bands=4, rows_per_band=4
        )
        flags.write.mode("append").parquet(flags_dir)
        band_keys(
            minhash_signatures(batch_df, num_hashes=16),
            bands=4, rows_per_band=4,
        ).write.mode("append").parquet(index_dir)

    q = (
        spark.readStream.schema(schema).parquet(src)
        .writeStream.foreachBatch(_probe_and_append)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    flags = {r.doc_id: r for r in spark.read.parquet(flags_dir).collect()}
    assert flags[10].is_dup and flags[10].first_hit_id == 1
    assert not flags[11].is_dup
    # The index grew by day-2's band keys: a day-3 batch would see both.
    idx = spark.read.parquet(index_dir)
    assert idx.select("doc_id").distinct().count() == 4


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Real stream-stream join: click->purchase attribution on two
    branches of a watermarked file stream. Inner interval joins emit
    every matched pair once both sides arrive, so with AvailableNow
    draining everything the streamed result equals the batch result
    exactly (no append-mode withholding for inner joins... except rows
    arriving after the other side's state was evicted — with one
    final watermark advance at end-of-stream, nothing is evicted
    early here)."""
    from capital.streaming.incremental import stream_stream_interval_join

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    ev = _write_batches(spark, sf_dir, src)

    def split_join(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        buys = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        return stream_stream_interval_join(
            clicks, buys, on="user_id",
            left_ts="click_ts", right_ts="purchase_ts",
            within="30 minutes", watermark="1 hour",
        ).select("user_id", "click_id", "purchase_id")

    q = incremental_run(spark, src, EVENTS, split_join, sink, ckpt)
    q.awaitTermination(180)

    streamed = {tuple(r) for r in spark.read.parquet(sink).collect()}
    batch = {tuple(r) for r in split_join(ev).collect()}
    assert streamed == batch
    assert len(batch) > 0


def test_incremental_psi_stream_matches_batch(spark, sf_dir, tmp_path):
    """Round-9 streaming member of the drift family: micro-batched
    current-period histograms folded against a stored baseline must
    reproduce batch psi_drift term-for-term, and a replayed batch must
    not double-count (batch_id-partition overwrite convergence)."""
    from capital.operators.drift import baseline_histogram, psi_drift
    from capital.streaming.incremental import (
        incremental_psi_run,
        psi_state_terms,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    split = F.lit("2024-01-15").cast("timestamp")
    ev = load_table(spark, sf_dir, "events")
    ref = ev.filter(F.col("ts") < split)
    cur = ev.filter(F.col("ts") >= split)

    base_path = str(tmp_path / "baseline")
    hour_bin = F.hour("ts").cast("string")
    baseline_histogram(ref, hour_bin).write.parquet(base_path)
    baseline = spark.read.parquet(base_path)

    # Current period arrives as two files → two micro-batches
    # (maxFilesPerTrigger=1).
    cur.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    cur.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = incremental_psi_run(
        spark, src, EVENTS, F.hour("ts").cast("string"), state, ckpt,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    streamed = psi_state_terms(spark, state, baseline)
    period = F.when(F.col("ts") < split, "ref").otherwise("cur")
    batch = psi_drift(ev, hour_bin, period, "ref", "cur")
    assert streamed.subtract(batch).count() == 0
    assert batch.subtract(streamed).count() == 0
    assert streamed.count() == batch.count() > 0

    # Replay convergence: rewriting one batch's partition with the
    # same partial must leave the folded terms unchanged.
    state_df = spark.read.parquet(state)
    bids = [r[0] for r in state_df.select("batch_id").distinct().collect()]
    assert len(bids) == 2, "expected two micro-batches"
    # Materialize the replayed partial on the driver first: the real
    # replay recomputes from the source, it never reads its own sink.
    replay_rows = state_df.filter(F.col("batch_id") == bids[0]).collect()
    replay = spark.createDataFrame(replay_rows, state_df.schema)
    replay.write.mode("overwrite").partitionBy("batch_id").parquet(state)
    replayed = psi_state_terms(spark, state, baseline)
    assert replayed.subtract(batch).count() == 0
    assert replayed.count() == batch.count()


def test_incremental_funnel_stream_matches_batch(spark, sf_dir, tmp_path):
    """foreachBatch funnel member: the folded per-(user, step)
    distinct-ts state must reproduce the batch funnel rollup exactly
    — including the late-arrival case the state design exists for
    (step-1 events arriving AFTER step-2 events, moving thresholds
    earlier), which the event_id split below produces naturally."""
    from capital.operators.funnel import funnel_conversion
    from capital.streaming.incremental import (
        funnel_state_conversion,
        incremental_funnel_run,
    )

    steps = ["view", "click", "purchase"]
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    ev = load_table(spark, sf_dir, "events")
    # Two arrival batches split on event_id — each contains a mix of
    # all stages, so batch 2 delivers step-1 events predating batch
    # 1's step-2 events for many users.
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = incremental_funnel_run(
        spark, src, EVENTS, steps, state, ckpt, max_files_per_trigger=1
    )
    q.awaitTermination(120)

    streamed = funnel_state_conversion(spark, state, steps)
    batch = funnel_conversion(ev, steps)
    assert streamed.subtract(batch).count() == 0
    assert batch.subtract(streamed).count() == 0
    assert streamed.count() == len(steps)
    # State stores only funnel-step events, deduped.
    st = spark.read.parquet(state)
    assert st.filter(~F.col("event_type").isin(steps)).count() == 0


def test_incremental_bloom_stream_matches_exact_prior_membership(
    spark, tmp_path
):
    """Round-9 streaming member of the Bloom family: per-batch keys
    flagged against the index accumulated over PRIOR batches only;
    the folded state equals an at-once filter bit-for-bit; a replay
    from a fresh checkpoint converges to identical flags."""
    import shutil

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from capital.llm.bloom import bloom_words
    from capital.streaming.incremental import (
        bloom_state_words,
        incremental_bloom_run,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("key", StringType()),
        ]
    )
    batches = [
        [(1, "alpha"), (2, "beta"), (3, "gamma")],
        [(4, "beta"), (5, "delta"), (6, "alpha")],
        [(7, "epsilon"), (8, "delta"), (9, "zeta")],
    ]
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    flags_dir = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run(ck):
        q = incremental_bloom_run(
            spark, src, schema, "key", state, flags_dir, ck,
            id_cols=("doc_id",), max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    run(ckpt)
    flags = {
        r.doc_id: r.seen_before
        for r in spark.read.parquet(flags_dir).collect()
    }
    # Exact prior-batch membership (file order = batch order here;
    # derive expectations from the flags' own batch assignment to stay
    # order-agnostic).
    assign = {
        r.doc_id: (r.batch_id, r.key)
        for r in spark.read.parquet(flags_dir).collect()
    }
    for doc_id, (bid, key) in assign.items():
        prior_keys = {
            k2 for d2, (b2, k2) in assign.items() if b2 < bid
        }
        assert flags[doc_id] == (key in prior_keys), (doc_id, key, bid)
    assert sum(flags.values()) == 3  # beta, alpha, delta repeats

    # Folded state ≡ at-once filter (bit_or associativity).
    all_keys = spark.createDataFrame(
        [r for rows in batches for r in rows], schema
    ).select(F.col("key").alias("__k"))
    at_once = {
        r.word_idx: r.word for r in bloom_words(all_keys, "__k").collect()
    }
    folded = {
        r.word_idx: r.word
        for r in bloom_state_words(spark, state).collect()
    }
    assert folded == at_once

    # Replay from a fresh checkpoint: identical flags and state.
    shutil.rmtree(ckpt)
    run(str(tmp_path / "ckpt2"))
    flags2 = {
        r.doc_id: r.seen_before
        for r in spark.read.parquet(flags_dir).collect()
    }
    assert flags2 == flags
    folded2 = {
        r.word_idx: r.word
        for r in bloom_state_words(spark, state).collect()
    }
    assert folded2 == at_once


def test_incremental_ks_stream_matches_batch(spark, sf_dir, tmp_path):
    """Round-10 KS member of the incremental drift family: the
    histogram state written by incremental_psi_run is metric-agnostic,
    so folding it through ks_state_terms must reproduce batch ks_drift
    term-for-term (CDFs, gaps, ks_stat), and a replayed batch must not
    move any CDF (batch_id-partition overwrite convergence)."""
    from capital.operators.drift import baseline_histogram, ks_drift
    from capital.streaming.incremental import (
        incremental_psi_run,
        ks_state_terms,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    split = F.lit("2024-01-15").cast("timestamp")
    ev = load_table(spark, sf_dir, "events")
    ref = ev.filter(F.col("ts") < split)
    cur = ev.filter(F.col("ts") >= split)

    base_path = str(tmp_path / "baseline")
    # Ordinal bins (the KS contract): zero-padded hour-of-day.
    hour_bin = F.lpad(F.hour("ts").cast("string"), 2, "0")
    baseline_histogram(ref, hour_bin).write.parquet(base_path)
    baseline = spark.read.parquet(base_path)

    cur.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    cur.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = incremental_psi_run(
        spark, src, EVENTS, hour_bin, state, ckpt, max_files_per_trigger=1
    )
    q.awaitTermination(120)

    streamed = ks_state_terms(spark, state, baseline)
    period = F.when(F.col("ts") < split, "ref").otherwise("cur")
    batch = ks_drift(ev, hour_bin, period, "ref", "cur")
    assert streamed.subtract(batch).count() == 0
    assert batch.subtract(streamed).count() == 0
    assert streamed.count() == batch.count() > 0

    # Replay convergence: rewriting one batch's partition with the
    # same partial leaves every KS term unchanged.
    state_df = spark.read.parquet(state)
    bids = [r[0] for r in state_df.select("batch_id").distinct().collect()]
    assert len(bids) == 2
    replay_rows = state_df.filter(F.col("batch_id") == bids[0]).collect()
    replay = spark.createDataFrame(replay_rows, state_df.schema)
    replay.write.mode("overwrite").partitionBy("batch_id").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(state)
    replayed = ks_state_terms(spark, state, baseline)
    assert replayed.subtract(batch).count() == 0
    assert replayed.count() == batch.count()


def test_incremental_kmeans_stream_matches_batch(spark, sf_dir, tmp_path):
    """Round-10 streaming member of the clustering family: micro-batch
    assignments against FROZEN stored centroids must equal the batch
    assigner over the same rows; folding the accumulated (cell, dim)
    micro-unit partials must equal ONE batch Lloyd's mean update over
    all ingested vectors; and a replayed batch must not move any
    centroid (batch_id-partition overwrite convergence)."""
    from capital.llm.ivf import assign_cells
    from capital.llm.kmeans import _mean_update, lloyd_kmeans
    from capital.streaming.incremental import (
        incremental_kmeans_run,
        kmeans_state_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    schema = emb.schema
    _, cents = lloyd_kmeans(emb, k=4, iterations=1)

    src = str(tmp_path / "src")
    assign = str(tmp_path / "assign")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    emb.filter(F.col("vec_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    emb.filter(F.col("vec_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = incremental_kmeans_run(
        spark, src, schema, cents, assign, state, ckpt,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    streamed = {
        r.vec_id: r.cell
        for r in spark.read.parquet(assign).collect()
    }
    batch = {
        r.vec_id: r.cell for r in assign_cells(emb, cents).collect()
    }
    assert streamed == batch and len(batch) > 0

    folded = kmeans_state_centroids(spark, state, cents)
    full = _mean_update(assign_cells(emb, cents), cents, "embedding")
    assert folded == full

    # Replay convergence: rewrite one batch's partials, fold unchanged.
    state_df = spark.read.parquet(state)
    bids = [r[0] for r in state_df.select("batch_id").distinct().collect()]
    assert len(bids) == 2
    replay_rows = state_df.filter(F.col("batch_id") == bids[0]).collect()
    spark.createDataFrame(replay_rows, state_df.schema).write.mode(
        "overwrite"
    ).partitionBy("batch_id").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(state)
    assert kmeans_state_centroids(spark, state, cents) == full


def test_incremental_semdedup_stream_matches_batch(spark, sf_dir, tmp_path):
    """Round-11 streaming SemDeDup: id-ordered micro-batches scored
    against the stored member index (prior batches only) plus
    smaller-id batchmates must reproduce the batch operator's
    min-id-wins keep flags over everything at once; and directly
    replaying a batch (the crash-between-sink-and-checkpoint case)
    must rewrite its flags and members to the same rows."""
    from capital.llm.kmeans import lloyd_kmeans, semdedup_flags
    from capital.streaming.incremental import (
        incremental_semdedup_run,
        semdedup_write_batch,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    schema = emb.schema
    _, cents = lloyd_kmeans(emb, k=4, iterations=1)
    mid = emb.approxQuantile("vec_id", [0.5], 0.0)[0]

    src = str(tmp_path / "src")
    members = str(tmp_path / "members")
    flags_dir = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")
    # id-ordered arrival: batch 1 = low ids, batch 2 = high ids
    emb.filter(F.col("vec_id") <= mid).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    emb.filter(F.col("vec_id") > mid).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = incremental_semdedup_run(
        spark, src, schema, cents, members, flags_dir, ckpt,
        threshold=0.35, max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    streamed = {
        r.vec_id: (r.cell, r.is_kept)
        for r in spark.read.parquet(flags_dir).collect()
    }
    batch = {
        r.vec_id: (r.cell, r.is_kept)
        for r in semdedup_flags(
            emb, k=4, iterations=1, threshold=0.35
        ).collect()
    }
    assert streamed == batch and len(batch) > 0
    assert any(not kept for _, kept in batch.values())  # real drops
    assert any(kept for _, kept in batch.values())

    # Replay the LAST batch directly: same prior state (batch_id < N
    # partition pruning), dynamic overwrite -> identical rows after.
    before_flags = sorted(
        map(tuple, spark.read.parquet(flags_dir).collect())
    )
    before_members = sorted(
        map(tuple, spark.read.parquet(members).drop("embedding").collect())
    )
    bids = sorted(
        r[0]
        for r in spark.read.parquet(flags_dir)
        .select("batch_id").distinct().collect()
    )
    assert len(bids) == 2
    replay_src = emb.filter(F.col("vec_id") > mid)
    semdedup_write_batch(
        spark, replay_src, bids[-1], cents, members, flags_dir,
        threshold=0.35,
    )
    assert sorted(
        map(tuple, spark.read.parquet(flags_dir).collect())
    ) == before_flags
    assert sorted(
        map(tuple, spark.read.parquet(members).drop("embedding").collect())
    ) == before_members


def test_incremental_pack_stream_matches_batch(spark, tmp_path):
    """Round-11 incremental packer: id-ordered micro-batches of
    encoded docs, packed continuing each stream's stored offset, must
    reassemble (pieces -> chunks) to EXACTLY the at-once
    pack_token_ids result — including the chunk straddling the batch
    boundary — and directly replaying a batch must rewrite its pieces
    and state to the same rows."""
    from capital.llm.assemble import (
        pack_token_ids,
        packed_chunks_from_pieces,
    )
    from capital.streaming.incremental import (
        incremental_pack_run,
        pack_write_batch,
    )

    rows = [
        ("s1", 1, list(range(0, 5))),
        ("s1", 2, list(range(5, 11))),   # ends mid-chunk 2: batch 1
        ("s2", 3, list(range(100, 103))),
        ("s1", 4, list(range(11, 13))),  # batch 2 continues chunk 2
        ("s1", 5, list(range(13, 22))),
        ("s2", 6, list(range(103, 110))),
    ]
    schema = "source string, doc_id long, token_ids array<int>"
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    pieces_dir = str(tmp_path / "pieces")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    df.filter(F.col("doc_id") <= 3).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    df.filter(F.col("doc_id") > 3).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = incremental_pack_run(
        spark, src, df.schema, 4, pieces_dir, state, ckpt,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    def chunkmap(out):
        return {
            (r.source, r.chunk_id): (
                r.token_ids, r.n_tokens, r.n_docs, r.doc_starts
            )
            for r in out.collect()
        }

    streamed = chunkmap(
        packed_chunks_from_pieces(
            spark.read.parquet(pieces_dir).drop("batch_id")
        )
    )
    batch = chunkmap(pack_token_ids(df, seq_len=4))
    assert streamed == batch and len(batch) > 0
    # the boundary chunk genuinely straddled batches (doc 2 + doc 4)
    assert batch[("s1", 2)][2] == 2

    before_p = sorted(
        map(tuple, spark.read.parquet(pieces_dir).collect())
    )
    before_s = sorted(map(tuple, spark.read.parquet(state).collect()))
    bids = sorted(
        r[0]
        for r in spark.read.parquet(state)
        .select("batch_id").distinct().collect()
    )
    assert len(bids) == 2
    pack_write_batch(
        spark, df.filter(F.col("doc_id") > 3), bids[-1], 4,
        pieces_dir, state,
    )
    assert sorted(
        map(tuple, spark.read.parquet(pieces_dir).collect())
    ) == before_p
    assert sorted(map(tuple, spark.read.parquet(state).collect())) == before_s


def test_read_prior_state_corrupt_store_propagates(spark, tmp_path):
    """Round-11 advice: the first-batch fallback must fire ONLY for a
    genuinely missing state dir. An empty-but-existing dir (a
    corrupted / half-initialized store) must raise, never silently
    score against an empty prior."""
    import pytest
    from pyspark.errors import AnalysisException

    from capital.streaming.incremental import read_prior_state

    assert read_prior_state(spark, str(tmp_path / "nope")) is None
    empty = tmp_path / "empty_state"
    empty.mkdir()
    with pytest.raises(AnalysisException):
        read_prior_state(spark, str(empty))


def test_read_prior_state_missing_dir_runs_no_job(
    spark, tmp_path, monkeypatch
):
    """A missing state dir (every first micro-batch) is detected on
    the driver: ``None`` with no Spark job and no read attempted (a
    failing read logged a WARN stack trace per first batch)."""
    import capital.streaming.incremental as inc

    def no_read(*_a, **_k):
        raise AssertionError("read attempted on a missing state dir")

    monkeypatch.setattr(inc, "read_parquet", no_read)
    sc = spark.sparkContext
    group = "read-prior-state-missing"
    sc.setJobGroup(group, group)
    try:
        assert inc.read_prior_state(spark, str(tmp_path / "nope")) is None
        assert inc.read_prior_state(spark, f"file://{tmp_path}/nope") is None
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_incremental_lines_stream_matches_batch_and_replays(
    spark, tmp_path
):
    """Round-15 streaming twin of dedup_corpus_lines: on a
    doc_id-ordered stream the union of flag partitions equals the
    batch operator over the concatenated corpus exactly
    (first-batch-wins == global (doc, idx) first occurrence); a
    replay from a fresh checkpoint converges to identical flags and
    state; the folded state is the corpus's distinct-line set."""
    import shutil

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from capital.llm.c4 import dedup_corpus_lines
    from capital.streaming.incremental import (
        incremental_lines_run,
        lines_state_lines,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("lined_text", StringType()),
        ]
    )
    batches = [
        [(1, "alpha one.\nshared line.\nbeta two."),
         (2, "shared line.\ngamma three.")],
        [(3, "shared line.\ndelta four.\ndelta four."),
         (4, None)],
        [(5, "gamma three.\nunique six.\nalpha one.")],
    ]
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    flags_dir = str(tmp_path / "flags")
    ckpt = str(tmp_path / "ckpt")
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run(ck):
        q = incremental_lines_run(
            spark, src, schema, state, flags_dir, ck,
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)

    run(ckpt)
    stream_flags = {
        r.doc_id: (r.n_lines, r.n_removed_lines, r.clean_md5)
        for r in spark.read.parquet(flags_dir).collect()
    }
    all_rows = [r for rows in batches for r in rows]
    batch_flags = {
        r.doc_id: (r.n_lines, r.n_removed_lines, r.clean_md5)
        for r in dedup_corpus_lines(
            spark.createDataFrame(all_rows, schema)
        ).collect()
    }
    assert stream_flags == batch_flags
    # hand-check a few: doc 3's two 'delta four.' lines keep the first;
    # its 'shared line.' is prior-seen (doc 1 owns it).
    assert stream_flags[3][1] == 2
    assert stream_flags[4] == (None, None, None)
    # doc 5: 'gamma three.' and 'alpha one.' prior-seen, 'unique six.'
    # survives.
    assert stream_flags[5][1] == 2

    # folded state = the corpus's distinct lines.
    got_lines = {
        r["__line"] for r in lines_state_lines(spark, state).collect()
    }
    want = set()
    for _, t in all_rows:
        if t is not None:
            want.update(t.split("\n"))
    assert got_lines == want

    # replay from a fresh checkpoint: identical bytes.
    shutil.rmtree(ckpt)
    run(str(tmp_path / "ckpt2"))
    flags2 = {
        r.doc_id: (r.n_lines, r.n_removed_lines, r.clean_md5)
        for r in spark.read.parquet(flags_dir).collect()
    }
    assert flags2 == stream_flags
    assert {
        r["__line"] for r in lines_state_lines(spark, state).collect()
    } == want
