"""Structured Streaming incremental ingest + versioned recompute views."""

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from kgx.plans import versions
from kgx.sources import corpus, docs as docs_src
from kgx.streaming import incremental


def test_streaming_matches_batch(spark, sf_dir):
    narrative = corpus.narrative_documents(docs_src.load_documents(spark, sf_dir))
    docs = docs_src.spans_table(narrative.limit(60)).cache()
    in_dir = tempfile.mkdtemp(prefix="kgx_stream_in_")
    out_dir = tempfile.mkdtemp(prefix="kgx_stream_out_")
    try:
        # two separate file drops → two micro-batches on catch-up
        part1 = docs.where(F.expr("pmod(xxhash64(doc_id), 2) = 0"))
        part2 = docs.where(F.expr("pmod(xxhash64(doc_id), 2) = 1"))
        part1.write.mode("append").parquet(in_dir)
        q = incremental.start_incremental(spark, in_dir, out_dir)
        q.awaitTermination(120)

        part2.write.mode("append").parquet(in_dir)
        q = incremental.start_incremental(spark, in_dir, out_dir)
        q.awaitTermination(120)

        got = {
            tuple(r)
            for r in spark.read.parquet(os.path.join(out_dir, "triples"))
            .select("doc_id", "subj", "pred", "obj")
            .collect()
        }
        from kgx.operators import extract, spans as spans_op

        want = {
            tuple(r)
            for r in extract.triples_table(
                extract.extract_graphs(spans_op.with_doc_text(docs))
            ).collect()
        }
        assert got == want
        lineage = spark.read.parquet(os.path.join(out_dir, "stream_lineage"))
        assert lineage.agg(F.sum("docs")).collect()[0][0] == 60
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)


def test_windowed_metrics_watermark_drops_late_rows(spark):
    """Watermarked event-time windows: append mode emits each closed window
    exactly once, and a row arriving after the watermark passed its window
    is dropped instead of mutating the already-emitted row."""
    from kgx.sources.docs import SPAN_FIELDS

    schema = (
        f"doc_id string, spans array<struct<{SPAN_FIELDS}>>, "
        "event_ts timestamp"
    )

    def drop(ts_docs, in_dir):
        rows = [
            (
                f"d-{ts}",
                [("text", "alpha beta.", "", 0), ("media", "", "s3://m/x.mp4", 1)],
                ts,
            )
            for ts in ts_docs
        ]
        df = spark.createDataFrame(
            rows,
            f"doc_id string, spans array<struct<{SPAN_FIELDS}>>, event_ts string",
        ).withColumn("event_ts", F.to_timestamp("event_ts"))
        df.coalesce(1).write.mode("append").parquet(in_dir)

    def run_catchup(in_dir, out_dir):
        stream = spark.readStream.schema(schema).parquet(in_dir)
        q = (
            incremental.windowed_ingest_metrics(
                stream, window_len="5 minutes", watermark="10 minutes"
            )
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", os.path.join(out_dir, "metrics"))
            .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    in_dir = tempfile.mkdtemp(prefix="kgx_wm_in_")
    out_dir = tempfile.mkdtemp(prefix="kgx_wm_out_")
    try:
        # batch 1: two windows open (10:00-10:05 x3 docs, 10:05-10:10 x1)
        drop(
            ["2026-01-01 10:00:00", "2026-01-01 10:01:00",
             "2026-01-01 10:03:00", "2026-01-01 10:07:00"],
            in_dir,
        )
        run_catchup(in_dir, out_dir)
        # batch 2: 10:30 advances the watermark to 10:20 → both windows close
        drop(["2026-01-01 10:30:00"], in_dir)
        run_catchup(in_dir, out_dir)
        # batch 3: a LATE row for the closed 10:00 window must be dropped
        drop(["2026-01-01 10:01:30", "2026-01-01 10:31:00"], in_dir)
        run_catchup(in_dir, out_dir)

        got = {
            (str(r["window_start"]), r["docs"], r["spans"], r["media_spans"])
            for r in spark.read.parquet(os.path.join(out_dir, "metrics")).collect()
        }
        # exactly one immutable row per closed window; late d-10:01:30 absent
        assert got == {
            ("2026-01-01 10:00:00", 3, 6, 3),
            ("2026-01-01 10:05:00", 1, 2, 1),
        }, got
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)


def test_versioned_views(spark):
    rows = [
        ("d1", "a", "r1", 1),
        ("d1", "b", "r2", 2),
        ("d1", "c", "r3", 3),
        ("d2", "x", "r1", 1),
    ]
    df = spark.createDataFrame(rows, "doc_id string, payload string, run_id string, run_seq int")
    latest = {(r["doc_id"], r["payload"]) for r in versions.latest_per_doc(df).collect()}
    assert latest == {("d1", "c"), ("d2", "x")}
    stale = {(r["doc_id"], r["payload"]) for r in versions.retention_delete_set(df, keep=2).collect()}
    assert stale == {("d1", "a")}
    stamped = versions.stamp_run(df.drop("run_id", "run_seq"), "r9", 9)
    assert stamped.select("run_id").distinct().collect()[0][0] == "r9"


def test_streaming_sessions_match_batch(spark):
    """Closed sessions from the watermarked streaming session_window equal
    the batch sessionize() rows for the same events (append mode emits each
    session exactly once; the still-open tail session is not emitted)."""
    from kgx.operators.temporal import sessionize
    from kgx.streaming import incremental

    def drop(ts_rows, in_dir):
        df = spark.createDataFrame(
            [(uid, ts, i) for i, (uid, ts) in enumerate(ts_rows)],
            "user_id bigint, ts string, event_id bigint",
        ).withColumn("ts", F.to_timestamp("ts"))
        df.coalesce(1).write.mode("append").parquet(in_dir)

    def run_catchup(in_dir, out_dir):
        stream = spark.readStream.schema(
            "user_id bigint, ts timestamp, event_id bigint"
        ).parquet(in_dir)
        q = (
            incremental.sessionized_stream(
                stream, gap="30 minutes", watermark="1 hour"
            )
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", os.path.join(out_dir, "sessions"))
            .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    in_dir = tempfile.mkdtemp(prefix="kgx_sess_in_")
    out_dir = tempfile.mkdtemp(prefix="kgx_sess_out_")
    try:
        closed = [
            (1, "2026-01-01 10:00:00"),
            (1, "2026-01-01 10:10:00"),  # same session as 10:00
            (1, "2026-01-01 12:00:00"),  # new session
            (2, "2026-01-01 10:05:00"),
        ]
        drop(closed, in_dir)
        run_catchup(in_dir, out_dir)
        # advances the watermark to 19:00 → every session above closes;
        # this event's own session stays open and must NOT be emitted
        drop([(1, "2026-01-01 20:00:00")], in_dir)
        run_catchup(in_dir, out_dir)

        got = {
            (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
            for r in spark.read.parquet(os.path.join(out_dir, "sessions")).collect()
        }
        batch = spark.createDataFrame(
            [(uid, ts, i) for i, (uid, ts) in enumerate(closed)],
            "user_id bigint, ts string, event_id bigint",
        ).withColumn("ts", F.to_timestamp("ts"))
        want = {
            (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
            for r in sessionize(batch, "user_id", "ts", 1800).collect()
        }
        assert got == want and len(got) == 3, (got, want)
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)


def test_streaming_manifest_equals_batch_and_is_idempotent(spark, sf_dir, tmp_path):
    """Incremental manifest maintenance: three micro-batch drops merge to
    exactly the batch shard_manifest of the union (every column is a
    mergeable aggregate, incl. the order-independent checksum); replaying
    the stream with the same checkpoint appends nothing new."""
    from kgx.operators import packing

    docs = docs_src.load_documents(spark, sf_dir).select("doc_id", "text")
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    os.makedirs(in_dir)
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    q = incremental.start_manifest_maintenance(spark, in_dir, out_dir, n_shards=8)
    q.awaitTermination(120)

    got = {
        tuple(r)
        for r in incremental.current_shard_manifest(spark, out_dir).collect()
    }
    want = {tuple(r) for r in packing.shard_manifest(docs, 8).collect()}
    assert got == want

    # restart with the same checkpoint: no pending input -> manifest unchanged
    n_delta_rows = spark.read.parquet(
        os.path.join(out_dir, "manifest_deltas")
    ).count()
    q2 = incremental.start_manifest_maintenance(spark, in_dir, out_dir, n_shards=8)
    q2.awaitTermination(120)
    assert (
        spark.read.parquet(os.path.join(out_dir, "manifest_deltas")).count()
        == n_delta_rows
    )
    got2 = {
        tuple(r)
        for r in incremental.current_shard_manifest(spark, out_dir).collect()
    }
    assert got2 == want


def test_streaming_sketches_equal_batch(spark, sf_dir, tmp_path):
    """Incremental sketch maintenance: three micro-batch drops of the
    events table merge (HLL: max, count-min: sum) to exactly the batch
    sketches of the union; replaying with the same checkpoint changes
    nothing."""
    from kgx.operators import sketches

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id"
    )
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    os.makedirs(in_dir)
    for i in range(3):
        ev.where(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    kwargs = dict(
        schema="event_id bigint, user_id bigint",
        distinct_expr="cast(event_id as string)",
        freq_expr="cast(user_id as string)",
        member_expr="cast(user_id as string)",
        hist_expr="user_id",
    )
    q = incremental.start_sketch_maintenance(spark, in_dir, out_dir, **kwargs)
    q.awaitTermination(120)

    hll, cm = incremental.current_sketches(spark, out_dir)
    want_hll = {
        tuple(r)
        for r in sketches.hll_registers(
            ev, "cast(event_id as string)"
        ).collect()
    }
    want_cm = {
        tuple(r)
        for r in sketches.cm_registers(ev, "cast(user_id as string)").collect()
    }
    assert {tuple(r) for r in hll.collect()} == want_hll
    assert {tuple(r) for r in cm.collect()} == want_cm
    bloom = incremental.current_bloom(spark, out_dir)
    want_bloom = {
        tuple(r)
        for r in sketches.bloom_registers(ev, "cast(user_id as string)").collect()
    }
    assert {tuple(r) for r in bloom.collect()} == want_bloom
    hist = incremental.current_hist(spark, out_dir)
    want_hist = {
        tuple(r) for r in sketches.hist_registers(ev, "user_id").collect()
    }
    assert {tuple(r) for r in hist.collect()} == want_hist

    # restart with the same checkpoint: no pending input -> deltas unchanged
    n_rows = spark.read.parquet(os.path.join(out_dir, "cm_deltas")).count()
    q2 = incremental.start_sketch_maintenance(spark, in_dir, out_dir, **kwargs)
    q2.awaitTermination(120)
    assert (
        spark.read.parquet(os.path.join(out_dir, "cm_deltas")).count() == n_rows
    )


def test_snapshot_diff_semantics(spark):
    from kgx.plans import versions

    old = spark.createDataFrame(
        [("d1", "a", "r", "b"), ("d1", "a", "r", "c"), ("d2", "x", "r", "y")],
        "doc_id string, subj string, pred string, obj string",
    )
    new = spark.createDataFrame(
        [("d1", "a", "r", "b"), ("d1", "a", "r", "z"), ("d3", "m", "r", "n")],
        "doc_id string, subj string, pred string, obj string",
    )
    got = {
        (r.doc_id, r.subj, r.pred, r.obj): r.status
        for r in versions.snapshot_diff(
            old, new, ["doc_id", "subj", "pred", "obj"]
        ).collect()
    }
    assert got == {
        ("d1", "a", "r", "c"): "removed",
        ("d2", "x", "r", "y"): "removed",
        ("d1", "a", "r", "z"): "added",
        ("d3", "m", "r", "n"): "added",
    }


def test_snapshot_diff_dup_insensitive_and_empty(spark):
    from kgx.plans import versions

    a = spark.createDataFrame(
        [("d1", "a"), ("d1", "a"), ("d2", "b")], "doc_id string, subj string"
    )
    b = spark.createDataFrame([("d2", "b")], "doc_id string, subj string")
    got = versions.snapshot_diff(a, b, ["doc_id", "subj"]).collect()
    assert [(r.doc_id, r.subj, r.status) for r in got] == [("d1", "a", "removed")]
    assert versions.snapshot_diff(a, a, ["doc_id", "subj"]).count() == 0


def test_scd2_intervals_gaps_and_islands(spark):
    """Hand-checkable presence log: gaps split intervals, reappearance
    opens a new one, only segments reaching the newest run are current."""
    rows = [
        # (subj, pred, obj, run_seq)
        ("a", "r", "b", 1), ("a", "r", "b", 3),          # gap at run 2
        ("c", "r", "d", 2), ("c", "r", "d", 3),          # late arrival
        ("e", "r", "f", 1), ("e", "r", "f", 2),          # retired
        ("g", "r", "h", 2), ("g", "r", "h", 2),          # dup presence row
    ]
    runs = spark.createDataFrame(
        rows, "subj string, pred string, obj string, run_seq long"
    )
    got = {(r.subj, r.first_seq, r.last_seq, r.is_current)
           for r in versions.scd2_intervals(runs).collect()}
    assert got == {
        ("a", 1, 1, False), ("a", 3, 3, True),
        ("c", 2, 3, True),
        ("e", 1, 2, False),
        ("g", 2, 2, False),
    }
    # the newest run is read from the log itself: here it is 5, and a
    # segment ending at run 3 is no longer current
    later = runs.unionByName(spark.createDataFrame(
        [("a", "r", "b", 4), ("a", "r", "b", 5), ("i", "r", "j", 5)],
        "subj string, pred string, obj string, run_seq long",
    ))
    got = {(r.subj, r.first_seq, r.last_seq, r.is_current)
           for r in versions.scd2_intervals(later).collect()}
    assert got == {
        ("a", 1, 1, False), ("a", 3, 5, True),
        ("c", 2, 3, False),
        ("e", 1, 2, False),
        ("g", 2, 2, False),
        ("i", 5, 5, True),
    }
