"""Structured Streaming tests: replay events parquet through a file
source with availableNow, land in a memory sink, compare to the batch
twins (same semantics on closed windows)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from product_data_pipelining_spark.io import load_events
from product_data_pipelining_spark.streaming.sessionize import (
    SESSION_GAP_SECONDS,
    ev02_sessionize,
    streaming_sessionize,
    streaming_windowed_counts,
)
from product_data_pipelining_spark.streaming.stateful import (
    stateful_sessionize,
    streaming_dedup,
)


@pytest.fixture(scope="module")
def replay_dir(spark, sf_dir, tmp_path_factory):
    """Events re-landed as micro-precision parquet (stream-source input)."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    # watermarks need TIMESTAMP (tz-aware); session tz is pinned to UTC so
    # the NTZ → TIMESTAMP cast preserves wall-clock values
    ev = load_events(spark, sf_dir).select(
        "user_id", "event_id", "event_type",
        F.col("ts").cast("timestamp").alias("ts"), "value",
    )
    ev.repartition(4).write.mode("overwrite").parquet(path)
    return path


def _run_stream(spark, stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _stream_source(spark, replay_dir):
    schema = spark.read.parquet(replay_dir).schema
    return spark.readStream.schema(schema).parquet(replay_dir)


def test_streaming_windowed_counts_match_batch(spark, replay_dir):
    src = _stream_source(spark, replay_dir)
    got = _run_stream(spark, streaming_windowed_counts(src), "win_counts")
    batch = spark.read.parquet(replay_dir)
    # append mode emits a window only once the watermark (max ts − 1h)
    # passes its end; the final windows stay open at end-of-input
    import datetime

    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - datetime.timedelta(hours=1)
    want = (
        batch.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .filter(F.col("window.end") <= F.lit(horizon))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    g = {(r["window_start"], r["event_type"]): r["n"] for r in got.collect()}
    w = {(r["window_start"], r["event_type"]): r["n"] for r in want.collect()}
    assert w, "horizon filtered everything — fixture too small"
    assert g == w


def test_streaming_sessionize_matches_batch_sessions(spark, sf_dir, replay_dir):
    import datetime

    src = _stream_source(spark, replay_dir)
    got = _run_stream(spark, streaming_sessionize(src), "sessions")
    batch = ev02_sessionize(spark, sf_dir)
    max_ts = spark.read.parquet(replay_dir).agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - datetime.timedelta(hours=1)
    # append emits a session once the watermark passes its window end
    # (= last event + gap); later sessions remain open at end-of-input
    fmt = "%Y-%m-%d %H:%M:%S"

    def _parse(s):
        return datetime.datetime.strptime(s[: len("2026-01-01 00:00:00")], fmt)

    b = {
        (r["user_id"], r["session_start"][: len("2026-01-01 00:00:00")],
         r["n_events"], r["total_value"])
        for r in batch.collect()
        if _parse(r["session_end"]) + datetime.timedelta(seconds=SESSION_GAP_SECONDS)
        <= horizon
    }
    gs = {
        (r["user_id"], r["session_start"].strftime(fmt), r["n_events"], r["total_value"])
        for r in got.collect()
    }
    assert b, "horizon filtered everything — fixture too small"
    assert gs == b


def test_stateful_sessionize_emits_closed_sessions(spark, sf_dir, replay_dir):
    src = _stream_source(spark, replay_dir).select("user_id", "ts", "value")
    got = _run_stream(spark, stateful_sessionize(src), "stateful_sessions")
    batch = ev02_sessionize(spark, sf_dir)
    per_user_batch = {
        r["user_id"]: r["n"] for r in batch.groupBy("user_id").count().withColumnRenamed("count", "n").collect()
    }
    per_user_got = {
        r["user_id"]: r["n"] for r in got.groupBy("user_id").count().withColumnRenamed("count", "n").collect()
    }
    # single availableNow batch: every session except each user's last
    # (still open in state) is emitted
    assert per_user_got, "no sessions emitted"
    for user, n_batch in per_user_batch.items():
        assert per_user_got.get(user, 0) == n_batch - 1, user
    # emitted session aggregates agree with the batch oracle
    b = {
        (r["user_id"], r["session_start"][: len("2026-01-01 00:00:00")], r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    g = {
        (
            r["user_id"],
            r["session_start"].strftime("%Y-%m-%d %H:%M:%S"),
            r["n_events"],
            round(r["total_value"], 2),
        )
        for r in got.collect()
    }
    assert g <= b


def test_streaming_dedup_bounded_state(spark, replay_dir):
    src = _stream_source(spark, replay_dir)
    # duplicate the stream by unioning it with itself, then dedup on event_id
    doubled = src.union(src)
    got = _run_stream(
        spark, streaming_dedup(doubled, ["event_id"]), "dedup_stream"
    )
    n_unique = spark.read.parquet(replay_dir).select("event_id").distinct().count()
    assert got.count() == n_unique


def test_stream_stream_attribution_join_matches_batch(spark, replay_dir):
    from product_data_pipelining_spark.streaming.sessionize import (
        ATTRIBUTION_WINDOW_SECONDS,
        streaming_attribution_join,
    )

    clicks = _stream_source(spark, replay_dir).filter(
        F.col("event_type") == "click"
    )
    purchases = _stream_source(spark, replay_dir).filter(
        F.col("event_type") == "purchase"
    )
    got = _run_stream(
        spark, streaming_attribution_join(clicks, purchases), "attrib"
    )
    batch = spark.read.parquet(replay_dir)
    bc = batch.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    bp = batch.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    want = bc.join(
        bp,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts")
            + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_SECONDS} SECONDS")
        ),
    )
    g = {(r["click_id"], r["purchase_id"]) for r in got.collect()}
    w = {(r["click_id"], r["purchase_id"]) for r in want.collect()}
    assert w, "no attributable pairs in fixture"
    assert g == w


def test_foreach_batch_upsert_matches_batch_last_writer(spark, replay_dir, tmp_path):
    from product_data_pipelining_spark.operators.upsert import (
        upsert_last_writer_wins,
    )
    from product_data_pipelining_spark.streaming.stateful import (
        foreach_batch_upsert,
    )

    cols = ("user_id", "event_type", "event_id", "ts", "value")
    keys = ["user_id", "event_type"]
    target = str(tmp_path / "upsert_target")
    src = _stream_source(spark, replay_dir).select(*cols)
    q = foreach_batch_upsert(src, target, keys, "ts")
    q.awaitTermination(180)
    got = spark.read.parquet(target)
    batch = spark.read.parquet(replay_dir).select(*cols)
    want = upsert_last_writer_wins(batch, keys, "ts")
    # whole rows: ts ties are broken by the same rule on both sides
    g = [tuple(r) for r in got.collect()]
    assert sorted(g) == sorted(tuple(r) for r in want.collect())
    assert len(g) == len(set(g))


def test_streaming_sliding_counts_match_batch(spark, replay_dir):
    from product_data_pipelining_spark.streaming.sessionize import (
        streaming_sliding_counts,
    )

    src = _stream_source(spark, replay_dir)
    got = _run_stream(spark, streaming_sliding_counts(src), "slide_counts")
    batch = spark.read.parquet(replay_dir)
    import datetime

    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - datetime.timedelta(hours=1)
    want = (
        batch.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .filter(F.col("window.end") <= F.lit(horizon))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    g = {(r["window_start"], r["event_type"]): r["n"] for r in got.collect()}
    w = {(r["window_start"], r["event_type"]): r["n"] for r in want.collect()}
    assert w, "horizon filtered everything"
    assert g == w


def test_streaming_enrich_static_matches_batch_join(spark, sf_dir, replay_dir):
    from product_data_pipelining_spark.io import load_table
    from product_data_pipelining_spark.streaming.sessionize import (
        streaming_enrich_static,
    )

    customer = load_table(spark, sf_dir, "customer")
    src = _stream_source(spark, replay_dir)
    got = _run_stream(
        spark, streaming_enrich_static(src, customer), "enrich_static"
    )
    want = streaming_enrich_static(spark.read.parquet(replay_dir), customer)
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g and g == w


def test_foreach_batch_upsert_promotes_orphaned_stage(spark, tmp_path):
    """Crash recovery: if a previous run died between delete(target) and
    rename(stage, target), the stage dir holds the complete merged
    history and the target is missing. The next merge must promote the
    stage before merging — treating the replayed batch as a first batch
    would silently drop all prior history."""
    from product_data_pipelining_spark.io import STAGE_SUFFIX
    from product_data_pipelining_spark.streaming.stateful import (
        foreach_batch_upsert,
    )

    target = str(tmp_path / "promote_target")
    # simulate the post-crash state: history lives only in target_next
    hist = spark.createDataFrame(
        [(1, "a", 10, 1.0), (2, "b", 20, 2.0)],
        "user_id long, event_type string, ts long, value double",
    )
    hist.write.parquet(target + STAGE_SUFFIX)
    # replayed micro-batch: updates user 1, adds user 3
    replay_dir = str(tmp_path / "replay_src")
    spark.createDataFrame(
        [(1, "a", 15, 9.0), (3, "c", 30, 3.0)],
        "user_id long, event_type string, ts long, value double",
    ).write.parquet(replay_dir)
    src = (
        spark.readStream.schema(
            "user_id long, event_type string, ts long, value double"
        )
        .parquet(replay_dir)
    )
    q = foreach_batch_upsert(src, target, ["user_id", "event_type"], "ts")
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["event_type"], r["ts"])
        for r in spark.read.parquet(target).collect()
    }
    # user 2's history must survive; user 1 takes the newer replay row
    assert got == {(1, "a", 15), (2, "b", 20), (3, "c", 30)}


def test_foreach_batch_upsert_rejects_reserved_columns(spark, tmp_path):
    from product_data_pipelining_spark.streaming.stateful import (
        foreach_batch_upsert,
    )

    replay_dir = str(tmp_path / "reserved_src")
    spark.createDataFrame(
        [(1, 10, 1)], "user_id long, ts long, __pdp_src__ long"
    ).write.parquet(replay_dir)
    src = spark.readStream.schema(
        "user_id long, ts long, __pdp_src__ long"
    ).parquet(replay_dir)
    q = foreach_batch_upsert(
        src, str(tmp_path / "reserved_target"), ["user_id"], "ts"
    )
    import pyspark.errors

    try:
        q.awaitTermination(180)
        raised = False
    except pyspark.errors.exceptions.base.PySparkException as exc:
        raised = "reserved column" in str(exc)
    assert raised, "expected reserved-column ValueError to propagate"


def test_foreach_batch_upsert_tolerates_map_columns(spark, tmp_path):
    """Map-typed payload columns are excluded from the tiebreak sort
    (Spark cannot order maps) but must flow through the merge intact."""
    from product_data_pipelining_spark.streaming.stateful import (
        foreach_batch_upsert,
    )

    replay_dir = str(tmp_path / "map_src")
    spark.createDataFrame(
        [(1, 10, {"k": "v1"}), (1, 20, {"k": "v2"}), (2, 5, {"k": "x"})],
        "user_id long, ts long, attrs map<string,string>",
    ).write.parquet(replay_dir)
    src = spark.readStream.schema(
        "user_id long, ts long, attrs map<string,string>"
    ).parquet(replay_dir)
    target = str(tmp_path / "map_target")
    q = foreach_batch_upsert(src, target, ["user_id"], "ts")
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["ts"], r["attrs"]["k"])
        for r in spark.read.parquet(target).collect()
    }
    assert got == {(1, 20, "v2"), (2, 5, "x")}


def test_parquet_upsert_target_tolerates_nested_map_columns(spark, tmp_path):
    """Maps buried inside arrays/structs are just as unorderable as
    top-level maps — the tiebreak sort must skip them at any depth."""
    from product_data_pipelining_spark.operators.upsert import (
        ParquetUpsertTarget,
        _contains_map,
    )

    schema = (
        "k long, v long, tags array<map<string,string>>, "
        "meta struct<name:string, attrs:map<string,string>>"
    )
    t = ParquetUpsertTarget(spark, str(tmp_path / "nested_map_target"))
    t.merge(
        spark.createDataFrame(
            [(1, 10, [{"a": "1"}], ("x", {"m": "1"}))], schema
        ),
        keys=["k"],
        version_col="v",
    )
    t.merge(
        spark.createDataFrame(
            [(1, 20, [{"a": "2"}], ("y", {"m": "2"})),
             (2, 5, [{"b": "9"}], ("z", {"m": "9"}))],
            schema,
        ),
        keys=["k"],
        version_col="v",
    )
    got = {
        (r["k"], r["v"], r["tags"][0]["a" if r["k"] == 1 else "b"],
         r["meta"]["name"])
        for r in t.read().collect()
    }
    assert got == {(1, 20, "2", "y"), (2, 5, "9", "z")}

    from pyspark.sql.types import (
        ArrayType, LongType, MapType, StringType, StructField, StructType,
    )

    m = MapType(StringType(), StringType())
    assert _contains_map(m)
    assert _contains_map(ArrayType(m))
    assert _contains_map(StructType([StructField("x", ArrayType(m))]))
    assert not _contains_map(ArrayType(LongType()))
    assert not _contains_map(StructType([StructField("x", StringType())]))


def test_streaming_sink_fragmentation_healed_by_compaction(spark, replay_dir, tmp_path):
    """The full micro-batch lifecycle: a streaming parquet sink lands one
    file per task per trigger (the 100 TB small-file generator), and
    io.compact_table restores a sized layout without changing a row."""
    from product_data_pipelining_spark.io import compact_table, table_file_stats

    out = str(tmp_path / "landed")
    src = _stream_source(spark, replay_dir).repartition(8)
    q = (
        src.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    frag = table_file_stats(spark, out)
    assert frag["n_files"] >= 8

    before = (
        spark.read.parquet(out)
        .select(
            F.sum(F.xxhash64("user_id", "event_id", "event_type", "ts", "value")).alias("s"),
            F.count("*").alias("n"),
        )
        .collect()[0]
    )
    res = compact_table(spark, out, target_file_mb=128)
    assert res["after"]["n_files"] == 1
    after = (
        spark.read.parquet(out)
        .select(
            F.sum(F.xxhash64("user_id", "event_id", "event_type", "ts", "value")).alias("s"),
            F.count("*").alias("n"),
        )
        .collect()[0]
    )
    assert (before["s"], before["n"]) == (after["s"], after["n"])


def test_foreach_batch_upsert_into_bucketed_target(spark, replay_dir, tmp_path):
    """Streaming micro-batches merged through the partition-pruned
    bucketed target: same final state as the batch last-writer-wins
    replay, arrived at by rewriting only matched buckets per batch."""
    from product_data_pipelining_spark.operators.upsert import (
        BucketedParquetUpsertTarget,
    )
    from product_data_pipelining_spark.streaming.stateful import (
        foreach_batch_upsert,
    )

    path = str(tmp_path / "bucketed_target")
    tgt = BucketedParquetUpsertTarget(spark, path, n_buckets=8)
    src = _stream_source(spark, replay_dir).select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    q = foreach_batch_upsert(
        src, path, ["user_id", "event_type"], "ts", target=tgt
    )
    q.awaitTermination(180)
    got = tgt.read()
    assert got is not None
    batch = spark.read.parquet(replay_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy(F.col("ts").desc())
    want = (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    assert got.count() == want.count()
    g = {(r["user_id"], r["event_type"], r["ts"]) for r in got.collect()}
    wv = {(r["user_id"], r["event_type"], r["ts"]) for r in want.collect()}
    assert g == wv
