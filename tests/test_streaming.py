"""Structured Streaming smoke tests (SURVEY §2.10).

Feeds the Wistia-shaped event fixtures through a file stream and
checks the streaming daily-engagement rollup emits the same groups as
the batch fact pipeline's non-stateful aggregates, and that
session windows close correctly.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.wistia_fixtures import make_events, make_media
from wistia_data_pipeline_project_spark.schemas import WISTIA_EVENT_SCHEMA
from wistia_data_pipeline_project_spark.streaming.pipeline import (
    run_stream_to_memory,
    streaming_daily_engagement,
    streaming_session_windows,
)


@pytest.fixture(scope="module")
def events_jsonl_dir(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("events_stream")
    events = make_events(make_media())
    # time-ordered across files: the stateful fold assumes arrival
    # order == event order per key (same contract as the reference's
    # incremental refetch); nulls sort first (filtered by the stream)
    events = sorted(
        events,
        key=lambda e: (e["received_at"] is not None, e["received_at"], e["event_key"]),
    )
    # two micro-batch files so the file stream sees >1 batch of input
    half = len(events) // 2
    for i, chunk in enumerate((events[:half], events[half:])):
        with open(os.path.join(path, f"events_{i}.jsonl"), "w") as f:
            for e in chunk:
                f.write(json.dumps(e, default=lambda o: o.isoformat()) + "\n")
    return str(path)


def _read_stream(spark, path):
    return (
        spark.readStream.schema(WISTIA_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(path)
    )


def test_streaming_daily_engagement_matches_batch(spark, events_jsonl_dir):
    stream = _read_stream(spark, events_jsonl_dir)
    q = run_stream_to_memory(
        streaming_daily_engagement(stream), "daily_engagement_stream"
    )
    try:
        got = {
            (r["media_id"], r["visitor_id"], str(r["date"])): r["n_events"]
            for r in spark.table("daily_engagement_stream").collect()
        }
    finally:
        q.stop()

    batch = (
        spark.read.schema(WISTIA_EVENT_SCHEMA)
        .json(events_jsonl_dir)
        .withColumn("received_at", F.to_timestamp("received_at"))
        .filter(
            F.col("media_id").isNotNull()
            & F.col("visitor_key").isNotNull()
            & F.col("received_at").isNotNull()
        )
        .dropDuplicates(["event_key"])
        .groupBy(
            "media_id",
            "visitor_key",
            F.to_date("received_at").alias("date"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    want = {
        (r["media_id"], r["visitor_key"], str(r["date"])): r["n_events"]
        for r in batch.collect()
    }
    # append mode only emits windows closed under the watermark; every
    # emitted group must match the batch answer exactly, and at least
    # the earliest day must have closed.
    assert got, "streaming query emitted no closed windows"
    for key, n in got.items():
        assert want.get(key) == n, f"group {key}: stream={n} batch={want.get(key)}"


def test_streaming_watch_time_matches_batch_fold(spark, events_jsonl_dir):
    """The stateful streaming fold must converge to the batch
    applyInPandas fold: per key, the LAST update-mode emission equals
    the batch row (events are time-ordered across the stream files)."""
    import datetime as dt

    from tests.wistia_fixtures import make_media
    from wistia_data_pipeline_project_spark.operators.dims import (
        transform_media_data,
    )
    from wistia_data_pipeline_project_spark.operators.fact import (
        fact_media_engagement_fold,
    )
    from wistia_data_pipeline_project_spark.schemas import (
        WISTIA_MEDIA_SCHEMA,
        nullable_copy,
    )
    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        streaming_watch_time,
    )

    media = spark.createDataFrame(make_media(), nullable_copy(WISTIA_MEDIA_SCHEMA))
    dim = transform_media_data(media, dt.datetime(2025, 5, 20, 12, tzinfo=dt.timezone.utc))

    stream = _read_stream(spark, events_jsonl_dir)
    q = run_stream_to_memory(
        streaming_watch_time(stream, dim), "watch_time_stream", output_mode="update"
    )
    try:
        # keep only each key's final emission (update mode re-emits)
        updates = spark.table("watch_time_stream").collect()
    finally:
        q.stop()
    final = {}
    for r in updates:  # memory sink appends updates in batch order
        final[(r["media_id"], r["visitor_id"], str(r["date"]))] = r

    batch_events = (
        spark.read.schema(WISTIA_EVENT_SCHEMA).json(events_jsonl_dir)
    )
    want = {
        (r["media_id"], r["visitor_id"], str(r["date"])): r
        for r in fact_media_engagement_fold(
            batch_events, dim, dt.datetime(2025, 5, 20, 12, tzinfo=dt.timezone.utc)
        ).collect()
    }
    assert set(final) == set(want)
    for k, got in final.items():
        exp = want[k]
        assert got["play_count"] == exp["play_count"], k
        assert got["total_watch_time"] == pytest.approx(exp["total_watch_time"], abs=0.01), k
        assert got["max_percent_viewed"] == pytest.approx(exp["max_percent_viewed"]), k
        assert got["event_timestamp"] == exp["event_timestamp"], k
        assert got["last_event_timestamp"] == exp["last_event_timestamp"], k


def test_streaming_watch_time_out_of_order_arrival(spark, tmp_path):
    """Out-of-order cross-batch arrival (VERDICT r01 item 6): events
    shuffled randomly across micro-batch files must still converge to
    the batch fold — the state buffers rows until the watermark
    finalizes their order."""
    import datetime as dt
    import json as _json
    import random

    from wistia_data_pipeline_project_spark.operators.dims import (
        transform_media_data,
    )
    from wistia_data_pipeline_project_spark.operators.fact import (
        fact_media_engagement_fold,
    )
    from wistia_data_pipeline_project_spark.schemas import (
        WISTIA_MEDIA_SCHEMA,
        nullable_copy,
    )
    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        streaming_watch_time,
    )

    path = tmp_path / "shuffled"
    path.mkdir()
    events = make_events(make_media())
    random.Random(99).shuffle(events)  # adversarial arrival order
    n = len(events)
    for i in range(4):
        with open(path / f"events_{i}.jsonl", "w") as f:
            for e in events[i * n // 4 : (i + 1) * n // 4]:
                f.write(_json.dumps(e, default=lambda o: o.isoformat()) + "\n")

    media = spark.createDataFrame(make_media(), nullable_copy(WISTIA_MEDIA_SCHEMA))
    run_ts = dt.datetime(2025, 5, 20, 12, tzinfo=dt.timezone.utc)
    dim = transform_media_data(media, run_ts)

    stream = _read_stream(spark, str(path))
    # watermark wide enough that the shuffle never drops late rows:
    # every row stays pending and the provisional fold must equal the
    # batch fold regardless of arrival order
    q = run_stream_to_memory(
        streaming_watch_time(stream, dim, watermark="30 days"),
        "watch_time_ooo_stream",
        output_mode="update",
    )
    try:
        updates = spark.table("watch_time_ooo_stream").collect()
    finally:
        q.stop()
    final = {}
    for r in updates:
        final[(r["media_id"], r["visitor_id"], str(r["date"]))] = r

    batch_events = spark.read.schema(WISTIA_EVENT_SCHEMA).json(str(path))
    want = {
        (r["media_id"], r["visitor_id"], str(r["date"])): r
        for r in fact_media_engagement_fold(batch_events, dim, run_ts).collect()
    }
    assert set(final) == set(want)
    for k, got in final.items():
        exp = want[k]
        assert got["play_count"] == exp["play_count"], k
        assert got["total_watch_time"] == pytest.approx(
            exp["total_watch_time"], abs=0.01
        ), k
        assert got["max_percent_viewed"] == pytest.approx(exp["max_percent_viewed"]), k
        assert got["event_timestamp"] == exp["event_timestamp"], k
        assert got["last_event_timestamp"] == exp["last_event_timestamp"], k


def test_streaming_watch_time_never_exceeds_duration(spark, tmp_path):
    """The stateful emit applies the batch folds' cents rule: a clamped
    rewatch of a 307.415 s media emits 307.41 s, not 307.42 s."""
    import datetime as dt

    from tests.wistia_fixtures import capped_rewatch
    from wistia_data_pipeline_project_spark.operators.dims import (
        transform_media_data,
    )
    from wistia_data_pipeline_project_spark.schemas import (
        WISTIA_MEDIA_SCHEMA,
        nullable_copy,
    )
    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        streaming_watch_time,
    )

    base_media = make_media()
    media, events = capped_rewatch(base_media, make_events(base_media))
    path = tmp_path / "capped"
    path.mkdir()
    with open(path / "events_0.jsonl", "w") as f:
        for e in events:
            f.write(json.dumps(e, default=lambda o: o.isoformat()) + "\n")
    run_ts = dt.datetime(2025, 5, 20, 12, tzinfo=dt.timezone.utc)
    dim = transform_media_data(
        spark.createDataFrame(media, nullable_copy(WISTIA_MEDIA_SCHEMA)), run_ts
    )
    q = run_stream_to_memory(
        streaming_watch_time(_read_stream(spark, str(path)), dim, watermark="30 days"),
        "watch_time_capped_stream",
        output_mode="update",
    )
    try:
        rows = spark.table("watch_time_capped_stream").collect()
    finally:
        q.stop()
    watch = [r["total_watch_time"] for r in rows]
    assert watch and max(watch) == 307.41  # the clamped total, not 307.42


def test_streaming_session_windows(spark, events_jsonl_dir):
    stream = _read_stream(spark, events_jsonl_dir)
    q = run_stream_to_memory(
        streaming_session_windows(stream, gap="30 minutes"),
        "session_stream",
    )
    try:
        rows = spark.table("session_stream").collect()
    finally:
        q.stop()
    assert rows, "no session windows closed"
    for r in rows:
        assert r["session_start"] <= r["session_end"]
        assert r["n_events"] >= 1


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Exactly-once across restarts: a checkpointed stream with
    watermarked key-dedup is stopped, new files (overlapping the old
    ones) arrive, and the restarted query must emit only the genuinely
    new keys — checkpointed offsets skip old files, checkpointed dedup
    state drops cross-run duplicates."""
    import json as _json
    import os as _os

    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    events = make_events(make_media())
    events = sorted(
        events,
        key=lambda e: (e["received_at"] is not None, e["received_at"], e["event_key"]),
    )
    half = len(events) // 2

    def write_file(name, rows):
        with open(src / name, "w") as f:
            for e in rows:
                f.write(_json.dumps(e, default=lambda o: o.isoformat()) + "\n")

    def run_once():
        stream = (
            spark.readStream.schema(WISTIA_EVENT_SCHEMA)
            .json(str(src))
            .filter(F.col("received_at").isNotNull())
            .withWatermark("received_at", "30 days")
            .dropDuplicatesWithinWatermark(["event_key"])
            .select("event_key", "media_id", "received_at")
        )
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_file("batch0.jsonl", events[:half])
    run_once()
    n_first = spark.read.parquet(str(sink)).count()
    keys_first = {
        r["event_key"] for r in spark.read.parquet(str(sink)).collect()
    }

    # second run: re-deliver the tail of batch0 (duplicates) + the rest
    write_file("batch1.jsonl", events[half - 20 :])
    run_once()
    out = spark.read.parquet(str(sink))
    keys_all = {r["event_key"] for r in out.collect()}

    valid = [e for e in events if e["received_at"] is not None]
    expected_keys = {e["event_key"] for e in valid}
    assert keys_first < expected_keys
    assert keys_all == expected_keys
    # exactly-once: no key written twice despite the 20-event overlap
    assert out.count() == len(expected_keys)
    assert n_first < out.count()


def test_streaming_enriched_rolling_volume_matches_batch(spark, events_jsonl_dir):
    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        streaming_enriched_rolling_volume,
    )

    media = spark.createDataFrame(
        [
            (m["hashed_id"], None if m["duration"] is None else float(m["duration"]))
            for m in make_media()
        ],
        "media_id string, duration double",
    )
    stream = _read_stream(spark, events_jsonl_dir)
    q = run_stream_to_memory(
        streaming_enriched_rolling_volume(stream, media), "rolling_vol", "complete"
    )
    try:
        got = {
            (r["window_start"], r["media_id"]): (
                r["n_events"],
                r["duration"],
            )
            for r in spark.table("rolling_vol").collect()
        }
    finally:
        q.stop()

    batch = (
        spark.read.schema(WISTIA_EVENT_SCHEMA)
        .json(events_jsonl_dir)
        .filter(F.col("media_id").isNotNull() & F.col("received_at").isNotNull())
        .join(F.broadcast(media), "media_id", "left")
        .groupBy(
            F.window("received_at", "10 minutes", "5 minutes").alias("w"), "media_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("duration").alias("duration"))
    )
    want = {
        (r["w"]["start"], r["media_id"]): (r["n_events"], r["duration"])
        for r in batch.collect()
    }
    assert got == want
    # hopping windows: each event lands in exactly window/slide = 2 windows
    assert sum(v[0] for v in got.values()) == 2 * (
        spark.read.schema(WISTIA_EVENT_SCHEMA)
        .json(events_jsonl_dir)
        .filter(F.col("media_id").isNotNull() & F.col("received_at").isNotNull())
        .count()
    )


def test_stream_stream_attribution_join_matches_batch(spark, events_jsonl_dir):
    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        streaming_play_conversion_join,
    )

    # split one fixture stream into two event streams by key parity —
    # same schema, disjoint rows, deterministic
    def side(parity):
        return _read_stream(spark, events_jsonl_dir).filter(
            (F.crc32(F.col("event_key")) % 2) == parity
        )

    q = run_stream_to_memory(
        streaming_play_conversion_join(side(0), side(1), within="30 minutes"),
        "attribution",
        "append",
    )
    try:
        got = {
            (r["play_key"], r["conv_key"])
            for r in spark.table("attribution").collect()
        }
    finally:
        q.stop()

    batch = spark.read.schema(WISTIA_EVENT_SCHEMA).json(events_jsonl_dir).filter(
        F.col("visitor_key").isNotNull()
        & F.col("media_id").isNotNull()
        & F.col("received_at").isNotNull()
    )
    b0 = batch.filter((F.crc32(F.col("event_key")) % 2) == 0).select(
        F.col("visitor_key").alias("v"),
        F.col("media_id").alias("m"),
        F.col("event_key").alias("play_key"),
        F.col("received_at").alias("play_ts"),
    )
    b1 = batch.filter((F.crc32(F.col("event_key")) % 2) == 1).select(
        F.col("visitor_key").alias("v"),
        F.col("media_id").alias("m"),
        F.col("event_key").alias("conv_key"),
        F.col("received_at").alias("conv_ts"),
    )
    want = {
        (r["play_key"], r["conv_key"])
        for r in b0.join(b1, ["v", "m"])
        .filter(
            (F.col("conv_ts") >= F.col("play_ts"))
            & (F.col("conv_ts") <= F.col("play_ts") + F.expr("INTERVAL 30 minutes"))
        )
        .collect()
    }
    assert want, "fixture should produce at least one attributable pair"
    assert got == want


def test_streaming_watch_time_dedups_redelivered_events(spark, tmp_path):
    """At-least-once redelivery: the same event_key arriving in two
    micro-batches must count once — stream output equals the batch
    fold over the deduped input (the batch twin dedups by event_key)."""
    import datetime as dt
    import json as _json

    from wistia_data_pipeline_project_spark.operators.dims import (
        transform_media_data,
    )
    from wistia_data_pipeline_project_spark.operators.fact import (
        fact_media_engagement_fold,
    )
    from wistia_data_pipeline_project_spark.operators.incremental import (
        dedup_events,
    )
    from wistia_data_pipeline_project_spark.schemas import (
        WISTIA_MEDIA_SCHEMA,
        WISTIA_EVENT_SCHEMA,
        nullable_copy,
    )
    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        streaming_watch_time,
    )

    path = tmp_path / "redelivered"
    path.mkdir()
    events = sorted(
        (e for e in make_events(make_media()) if e["received_at"] is not None),
        key=lambda e: (e["received_at"], e["event_key"]),
    )
    half = len(events) // 2
    first, second = events[:half], events[half:]
    # redeliver the last 5 events of batch 0 at the head of batch 1
    second = first[-5:] + second
    for i, chunk in enumerate((first, second)):
        with open(path / f"events_{i}.jsonl", "w") as f:
            for e in chunk:
                f.write(_json.dumps(e, default=lambda o: o.isoformat()) + "\n")

    media = spark.createDataFrame(make_media(), nullable_copy(WISTIA_MEDIA_SCHEMA))
    run_ts = dt.datetime(2025, 5, 20, 12, tzinfo=dt.timezone.utc)
    dim = transform_media_data(media, run_ts)
    q = run_stream_to_memory(
        streaming_watch_time(_read_stream(spark, str(path)), dim),
        "watch_time_redelivered",
        output_mode="update",
    )
    try:
        updates = spark.table("watch_time_redelivered").collect()
    finally:
        q.stop()
    final = {}
    for r in updates:
        final[(r["media_id"], r["visitor_id"], str(r["date"]))] = r

    batch = dedup_events(
        spark.read.schema(WISTIA_EVENT_SCHEMA).json(str(path))
    )
    want = {
        (r["media_id"], r["visitor_id"], str(r["date"])): r
        for r in fact_media_engagement_fold(batch, dim, run_ts).collect()
    }
    assert set(final) == set(want)
    for k, got in final.items():
        assert got["play_count"] == want[k]["play_count"], k
        assert got["total_watch_time"] == pytest.approx(
            want[k]["total_watch_time"], abs=0.01
        ), k


def test_streaming_counter_delta_matches_batch(spark, tmp_path):
    """The streaming counter twin's LAST emission per user equals the
    batch counter_delta on the same readings — including out-of-order
    arrival ACROSS micro-batches inside the watermark (the provisional
    fold re-orders pending rows by event time)."""
    import datetime as dt
    import json as _json
    import os

    from wistia_data_pipeline_project_spark.operators.timeseries import (
        counter_delta,
    )
    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        run_stream_to_memory,
        streaming_counter_delta,
    )

    rows = [
        # user 1: 10 -> 25 -> 5(reset) -> 12 ; user 2: single sample
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1,
         "event_type": "view", "value": 10.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T01:00:00", "user_id": 1,
         "event_type": "view", "value": 25.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T02:00:00", "user_id": 1,
         "event_type": "view", "value": 5.0, "props": "{}"},
        {"event_id": 4, "ts": "2024-01-01T03:00:00", "user_id": 1,
         "event_type": "view", "value": 12.0, "props": "{}"},
        {"event_id": 5, "ts": "2024-01-01T00:30:00", "user_id": 2,
         "event_type": "view", "value": 3.0, "props": "{}"},
    ]
    # chunk 1 carries events 2 and 4; chunk 2 delivers 1, 3, 5 LATE —
    # the committed fold must still run in event order
    d = tmp_path / "stream_in"
    os.makedirs(d)
    for i, chunk in enumerate((rows[1::2], rows[0::2])):
        with open(d / f"events_{i}.jsonl", "w") as f:
            for e in chunk:
                f.write(_json.dumps(e) + "\n")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = run_stream_to_memory(
        streaming_counter_delta(stream, watermark="1 day"),
        "counter_stream",
        output_mode="update",
    )
    try:
        emitted = spark.sql("SELECT * FROM counter_stream").collect()
        # n_samples grows monotonically per user: max row = last emission
        last = {}
        for r in emitted:
            if (r.user_id not in last
                    or r.n_samples > last[r.user_id].n_samples):
                last[r.user_id] = r
        batch_df = spark.createDataFrame(
            [(e["event_id"],
              dt.datetime.fromisoformat(e["ts"]),
              e["user_id"], e["event_type"], e["value"], e["props"])
             for e in rows],
            schema,
        )
        batch = {r.user_id: r for r in counter_delta(batch_df).collect()}
        assert set(last) == set(batch)
        for uid, b in batch.items():
            s = last[uid]
            assert (s.n_samples, s.n_resets, s.delta, s.first_reading,
                    s.last_reading) == (
                b.n_samples, b.n_resets, b.delta, b.first_reading,
                b.last_reading), uid
        # and the values themselves are the hand-computed ones
        assert (last[1].n_resets, last[1].delta) == (1, 27.0)
    finally:
        q.stop()


def test_streaming_counter_delta_watermark_boundary_row(spark, tmp_path):
    """A reading AT the current watermark can still arrive in a later
    micro-batch (Spark only drops strictly-older rows): committing the
    ts == watermark row early would fold the late equal-timestamp,
    earlier-tiebreak reading AFTER it. Review r07's live repro: the
    boundary must be strictly '< watermark'."""
    import datetime as dt
    import json as _json
    import os

    from wistia_data_pipeline_project_spark.operators.timeseries import (
        counter_delta,
    )
    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        run_stream_to_memory,
        streaming_counter_delta,
    )

    def ev(eid, ts, v):
        return {"event_id": eid, "ts": ts, "user_id": 1,
                "event_type": "view", "value": v, "props": "{}"}

    chunks = [
        # batch A advances the watermark to 2024-01-02 (max ts - 1 day)
        [ev(1, "2024-01-01T00:00:00", 10.0),
         ev(9, "2024-01-03T00:00:00", 100.0)],
        # batch B: a reading EXACTLY AT the watermark
        [ev(6, "2024-01-02T00:00:00", 5.0)],
        # batch C: same timestamp, EARLIER tiebreak, still not late
        [ev(5, "2024-01-02T00:00:00", 20.0)],
    ]
    d = tmp_path / "wm_in"
    os.makedirs(d)
    for i, chunk in enumerate(chunks):
        with open(d / f"events_{i}.jsonl", "w") as f:
            for e in chunk:
                f.write(_json.dumps(e) + "\n")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = run_stream_to_memory(
        streaming_counter_delta(stream, watermark="1 day"),
        "counter_wm_stream",
        output_mode="update",
    )
    try:
        last = max(
            spark.sql("SELECT * FROM counter_wm_stream").collect(),
            key=lambda r: r.n_samples,
        )
        rows = [e for c in chunks for e in c]
        [b] = counter_delta(
            spark.createDataFrame(
                [(e["event_id"], dt.datetime.fromisoformat(e["ts"]),
                  e["user_id"], e["event_type"], e["value"], e["props"])
                 for e in rows],
                schema,
            )
        ).collect()
        assert (last.n_samples, last.n_resets, last.delta) == (
            b.n_samples, b.n_resets, b.delta
        )
        assert last.delta == 110.0  # 10->20 (+10), ->5 (reset +5), ->100 (+95)
    finally:
        q.stop()


def test_streaming_heartbeat_uptime_matches_batch(spark, tmp_path):
    """The streaming heartbeat twin's LAST emission per user equals
    the batch heartbeat_uptime on the same beats — including
    out-of-order arrival across micro-batches inside the watermark
    (a late mid-gap beat must re-split an interval that a premature
    commit would have frozen as one break)."""
    import datetime as dt
    import json as _json
    import os

    from wistia_data_pipeline_project_spark.operators.timeseries import (
        heartbeat_uptime,
    )
    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        run_stream_to_memory,
        streaming_heartbeat_uptime,
    )

    rows = [
        # user 1: beats at 0:00, 0:04, 0:08, 1:00 (tol 5min):
        # gaps 4m,4m live; 52m break, but the 0:08 beat still holds
        # its full 5m interval, as does the last: 4+4+5+5 = 18m,
        # 2 islands
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1,
         "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:04:00", "user_id": 1,
         "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T00:08:00", "user_id": 1,
         "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 4, "ts": "2024-01-01T01:00:00", "user_id": 1,
         "event_type": "view", "value": 1.0, "props": "{}"},
        # user 2: one beat -> uptime = tol, coverage 1.0
        {"event_id": 5, "ts": "2024-01-01T00:30:00", "user_id": 2,
         "event_type": "view", "value": 1.0, "props": "{}"},
    ]
    # chunk 1 delivers beats 1, 3, 4; chunk 2 delivers 2 and 5 LATE —
    # the 0:04 beat must re-split the 0:00->0:08 gap
    d = tmp_path / "hb_in"
    os.makedirs(d)
    for i, chunk in enumerate((rows[0::2], rows[1::2])):
        with open(d / f"events_{i}.jsonl", "w") as f:
            for e in chunk:
                f.write(_json.dumps(e) + "\n")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = run_stream_to_memory(
        streaming_heartbeat_uptime(stream, watermark="1 day"),
        "hb_stream",
        output_mode="update",
    )
    try:
        emitted = spark.sql("SELECT * FROM hb_stream").collect()
        last = {}
        for r in emitted:
            if r.user_id not in last or r.n_beats > last[r.user_id].n_beats:
                last[r.user_id] = r
        batch_df = spark.createDataFrame(
            [(e["event_id"], dt.datetime.fromisoformat(e["ts"]),
              e["user_id"], e["event_type"], e["value"], e["props"])
             for e in rows],
            schema,
        )
        batch = {r.user_id: r for r in heartbeat_uptime(batch_df).collect()}
        assert set(last) == set(batch)
        for uid, b in batch.items():
            s = last[uid]
            assert (s.n_beats, s.uptime_us, s.n_islands, s.span_us,
                    s.coverage) == (
                b.n_beats, b.uptime_us, b.n_islands, b.span_us,
                b.coverage), uid
        assert (last[1].uptime_us, last[1].n_islands) == (
            18 * 60 * 1_000_000, 2)
        assert (last[2].uptime_us, last[2].coverage) == (300_000_000, 1.0)
    finally:
        q.stop()


def test_streaming_heartbeat_uptime_watermark_boundary_row(spark, tmp_path):
    """A beat AT the current watermark can still arrive in a later
    micro-batch; the strict '< wm' commit bound (the counter twin's
    regression) plus the pending re-sort must keep the final emission
    equal to batch even when the boundary-timestamp beat and a
    mid-gap straggler land in separate later batches."""
    import datetime as dt
    import json as _json
    import os

    from wistia_data_pipeline_project_spark.operators.timeseries import (
        heartbeat_uptime,
    )
    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        run_stream_to_memory,
        streaming_heartbeat_uptime,
    )

    def ev(eid, ts):
        return {"event_id": eid, "ts": ts, "user_id": 1,
                "event_type": "view", "value": 1.0, "props": "{}"}

    chunks = [
        # batch A advances the watermark to 2024-01-02 (max ts - 1d)
        [ev(1, "2024-01-01T23:58:00"), ev(9, "2024-01-03T00:00:00")],
        # batch B: a beat EXACTLY AT the watermark
        [ev(6, "2024-01-02T00:00:00")],
        # batch C: same timestamp, earlier tiebreak — still not late
        [ev(5, "2024-01-02T00:00:00")],
    ]
    d = tmp_path / "hb_wm_in"
    os.makedirs(d)
    for i, chunk in enumerate(chunks):
        with open(d / f"events_{i}.jsonl", "w") as f:
            for e in chunk:
                f.write(_json.dumps(e) + "\n")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = run_stream_to_memory(
        streaming_heartbeat_uptime(stream, watermark="1 day"),
        "hb_wm_stream",
        output_mode="update",
    )
    try:
        last = max(
            spark.sql("SELECT * FROM hb_wm_stream").collect(),
            key=lambda r: r.n_beats,
        )
        rows = [e for c in chunks for e in c]
        [b] = heartbeat_uptime(
            spark.createDataFrame(
                [(e["event_id"], dt.datetime.fromisoformat(e["ts"]),
                  e["user_id"], e["event_type"], e["value"], e["props"])
                 for e in rows],
                schema,
            )
        ).collect()
        assert (last.n_beats, last.uptime_us, last.n_islands,
                last.span_us, last.coverage) == (
            b.n_beats, b.uptime_us, b.n_islands, b.span_us, b.coverage)
        # 23:58 -> 00:00 gap 2m live; duplicate-ts zero step; 00:00
        # holds its 5m across the break, the last beat holds 5m:
        # uptime 2m + 5m + 5m = 12m, 2 islands
        assert (last.uptime_us, last.n_islands) == (12 * 60 * 1_000_000, 2)
    finally:
        q.stop()


def test_streaming_state_durations_matches_batch(spark, tmp_path):
    """The streaming state_durations twin's FINAL emission (max n_obs
    per user) equals the batch state_durations on the same rows —
    including a LATE mid-gap observation that must RE-SPLIT a held
    interval between two states (the non-monotone case the n_obs
    emission counter exists for)."""
    import datetime as dt
    import json as _json
    import os

    from wistia_data_pipeline_project_spark.operators.timeseries import (
        state_durations,
    )
    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        run_stream_to_memory,
        streaming_state_durations,
    )

    rows = [
        # user 1: view@0:00, click@0:10, view@0:30, purchase@1:00
        # -> view held 10m (0:00-0:10) + 30m (0:30-1:00), click held
        # 20m (0:10-0:30), purchase open (0 held)
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1,
         "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:10:00", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01T00:30:00", "user_id": 1,
         "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 4, "ts": "2024-01-01T01:00:00", "user_id": 1,
         "event_type": "purchase", "value": 1.0, "props": "{}"},
        # user 2: single open observation -> 1 entry, 0 held
        {"event_id": 5, "ts": "2024-01-01T00:30:00", "user_id": 2,
         "event_type": "signup", "value": 1.0, "props": "{}"},
    ]
    # chunk 1 delivers events 1, 3, 4 (view@0:00 -> view@0:30 looks
    # like one 30m view hold); chunk 2 delivers the MID-GAP click@0:10
    # late — view's held total must SHRINK from 60m to 40m and click
    # must appear with 20m
    d = tmp_path / "sd_in"
    os.makedirs(d)
    for i, chunk in enumerate((rows[0::2], rows[1::2])):
        with open(d / f"events_{i}.jsonl", "w") as f:
            for e in chunk:
                f.write(_json.dumps(e) + "\n")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = run_stream_to_memory(
        streaming_state_durations(stream, watermark="1 day"),
        "sd_stream",
        output_mode="update",
    )
    try:
        emitted = spark.sql("SELECT * FROM sd_stream").collect()
        final_n = {}
        for r in emitted:
            final_n[r.user_id] = max(final_n.get(r.user_id, 0), r.n_obs)
        last = {
            (r.user_id, r.state): r
            for r in emitted
            if r.n_obs == final_n[r.user_id]
        }
        batch_df = spark.createDataFrame(
            [(e["event_id"], dt.datetime.fromisoformat(e["ts"]),
              e["user_id"], e["event_type"], e["value"], e["props"])
             for e in rows],
            schema,
        )
        batch = {
            (r.user_id, r.event_type): r
            for r in state_durations(batch_df).collect()
        }
        assert set(last) == set(batch)
        for k, b in batch.items():
            s = last[k]
            assert (s.n_entries, s.held_us) == (b.n_entries, b.held_us), k
        m = 60 * 1_000_000
        assert (last[(1, "view")].n_entries,
                last[(1, "view")].held_us) == (2, 40 * m)
        assert (last[(1, "click")].n_entries,
                last[(1, "click")].held_us) == (1, 20 * m)
        assert (last[(1, "purchase")].held_us) == 0
        assert (last[(2, "signup")].n_entries,
                last[(2, "signup")].held_us) == (1, 0)
    finally:
        q.stop()


def test_streaming_state_durations_watermark_boundary_row(spark, tmp_path):
    """A row AT the watermark arriving in a later batch, then a
    same-timestamp EARLIER-tiebreak straggler: the strict '< wm'
    commit bound plus the pending re-sort must keep the LOCF chain
    (and therefore which state holds the next interval) equal to
    batch — here the boundary row is value-bearing, not a zero-length
    step."""
    import datetime as dt
    import json as _json
    import os

    from wistia_data_pipeline_project_spark.operators.timeseries import (
        state_durations,
    )
    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        run_stream_to_memory,
        streaming_state_durations,
    )

    def ev(eid, ts, state):
        return {"event_id": eid, "ts": ts, "user_id": 1,
                "event_type": state, "value": 1.0, "props": "{}"}

    chunks = [
        # batch A advances the watermark to 2024-01-02 (max ts - 1d)
        [ev(1, "2024-01-01T23:00:00", "view"),
         ev(9, "2024-01-03T00:00:00", "end")],
        # batch B: a row EXACTLY AT the watermark — state click holds
        # until the end row
        [ev(6, "2024-01-02T00:00:00", "click")],
        # batch C: same timestamp, EARLIER tiebreak, different state —
        # the (ts, event_id) order makes click the later row, so click
        # still holds the 24h interval and seek holds 0
        [ev(5, "2024-01-02T00:00:00", "seek")],
    ]
    d = tmp_path / "sd_wm_in"
    os.makedirs(d)
    for i, chunk in enumerate(chunks):
        with open(d / f"events_{i}.jsonl", "w") as f:
            for e in chunk:
                f.write(_json.dumps(e) + "\n")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = run_stream_to_memory(
        streaming_state_durations(stream, watermark="1 day"),
        "sd_wm_stream",
        output_mode="update",
    )
    try:
        emitted = spark.sql("SELECT * FROM sd_wm_stream").collect()
        n_max = max(r.n_obs for r in emitted)
        last = {r.state: r for r in emitted if r.n_obs == n_max}
        rows = [e for c in chunks for e in c]
        batch = {
            r.event_type: r
            for r in state_durations(
                spark.createDataFrame(
                    [(e["event_id"], dt.datetime.fromisoformat(e["ts"]),
                      e["user_id"], e["event_type"], e["value"], e["props"])
                     for e in rows],
                    schema,
                )
            ).collect()
        }
        assert set(last) == set(batch)
        for st, b in batch.items():
            assert (last[st].n_entries, last[st].held_us) == (
                b.n_entries, b.held_us), st
        h = 60 * 60 * 1_000_000
        assert last["view"].held_us == 1 * h          # 23:00 -> 00:00
        assert last["seek"].held_us == 0              # zero-length step
        assert last["click"].held_us == 24 * h        # 00:00 -> next day
        assert last["end"].held_us == 0               # open tail
    finally:
        q.stop()


def _ewma_batch(spark, rows, schema):
    import datetime as dt

    from wistia_data_pipeline_project_spark.operators.timeseries import (
        ewma_last,
    )

    batch_df = spark.createDataFrame(
        [(e["event_id"], dt.datetime.fromisoformat(e["ts"]),
          e["user_id"], e["event_type"], e["value"], e["props"])
         for e in rows],
        schema,
    )
    prepared = batch_df.select(
        "user_id",
        F.date_trunc("DAY", F.col("ts")).alias("day"),
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("decimal(18,0)")
        .alias("cents"),
    )
    return {r.user_id: r for r in ewma_last(prepared).collect()}


def test_streaming_ewma_matches_batch(spark, tmp_path):
    """The streaming EWMA twin's final emission (max n_obs per user)
    is BIT-IDENTICAL to the batch ewma_last on the same rows — the
    bounded 25-day deque recomputes the same truncated integer shift
    sum — including a mid-gap day delivered late in a second
    micro-batch, IN CONTRACT (its rows sit at/above the watermark the
    first batch advanced to, and its day is still open)."""
    import json as _json
    import os

    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        run_stream_to_memory,
        streaming_ewma_smoothed,
    )

    def ev(eid, ts, uid, v):
        return {"event_id": eid, "ts": ts, "user_id": uid,
                "event_type": "view", "value": v, "props": "{}"}

    # user 1 day totals 100 / 40 / 16 -> fold 100 -> 70 -> 43
    chunk1 = [
        ev(1, "2024-01-01T09:00:00", 1, 60.0),
        ev(2, "2024-01-01T15:00:00", 1, 40.0),   # day1 total 100
        ev(4, "2024-01-03T11:00:00", 1, 16.0),   # day3 total 16
        ev(5, "2024-01-02T08:00:00", 2, 7.5),    # user 2: single day
    ]
    # after chunk 1 the watermark is Jan-2 11:00 (max ts - 1 day);
    # chunk 2's day-2 rows arrive late but AT/ABOVE the watermark
    # (12:00, 12:30) and day 2 (end Jan-3) is still open — the
    # in-contract straggler case, split across two rows so the
    # pending partial-sum merge is exercised too
    chunk2 = [
        ev(3, "2024-01-02T12:00:00", 1, 15.0),
        ev(6, "2024-01-02T12:30:00", 1, 25.0),   # day2 total 40
    ]
    rows = chunk1 + chunk2
    d = tmp_path / "ewma_in"
    os.makedirs(d)
    for i, chunk in enumerate((chunk1, chunk2)):
        with open(d / f"events_{i}.jsonl", "w") as f:
            for e in chunk:
                f.write(_json.dumps(e) + "\n")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = run_stream_to_memory(
        streaming_ewma_smoothed(stream, watermark="1 day"),
        "ewma_stream",
        output_mode="update",
    )
    try:
        emitted = spark.sql("SELECT * FROM ewma_stream").collect()
        last = {}
        for r in emitted:
            if r.user_id not in last or r.n_obs > last[r.user_id].n_obs:
                last[r.user_id] = r
        batch = _ewma_batch(spark, rows, schema)
        assert set(last) == set(batch)
        for uid, b in batch.items():
            s = last[uid]
            assert (s.n_days, s.last_total, s.ewma) == (
                b.n_days, b.last_total, b.ewma
            ), uid
            assert s.last_day.replace(tzinfo=None) == b.last_day
        assert last[1].ewma == 43.0  # (100 -> 70 -> 43) by hand
    finally:
        q.stop()


def test_streaming_ewma_day_commits_only_past_day_end(spark, tmp_path):
    """A day commits only once the watermark passes its END: a row AT
    the watermark belongs to a still-open day, and a second partial
    for that day arriving later must merge into the SAME day total
    (committing on day START would freeze the day half-summed)."""
    import json as _json
    import os

    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        run_stream_to_memory,
        streaming_ewma_smoothed,
    )

    def ev(eid, ts, v):
        return {"event_id": eid, "ts": ts, "user_id": 1,
                "event_type": "view", "value": v, "props": "{}"}

    chunks = [
        # batch A: wm advances to 2024-01-03 (max ts - 1 day); the
        # Jan-1 day (end Jan-2 <= wm) is committed, Jan-4 pending
        [ev(1, "2024-01-01T06:00:00", 80.0),
         ev(2, "2024-01-04T00:00:00", 10.0)],
        # batch B: a row AT the watermark — day Jan-3 (end Jan-4 > wm)
        # must stay OPEN
        [ev(3, "2024-01-03T00:00:00", 4.0)],
        # batch C: second partial for the same open day
        [ev(4, "2024-01-03T18:00:00", 6.0)],
    ]
    d = tmp_path / "ewma_wm_in"
    os.makedirs(d)
    for i, chunk in enumerate(chunks):
        with open(d / f"events_{i}.jsonl", "w") as f:
            for e in chunk:
                f.write(_json.dumps(e) + "\n")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = run_stream_to_memory(
        streaming_ewma_smoothed(stream, watermark="1 day"),
        "ewma_wm_stream",
        output_mode="update",
    )
    try:
        last = max(
            spark.sql("SELECT * FROM ewma_wm_stream").collect(),
            key=lambda r: r.n_obs,
        )
        rows = [e for c in chunks for e in c]
        batch = _ewma_batch(spark, rows, schema)
        b = batch[1]
        assert (last.n_days, last.last_total, last.ewma) == (
            b.n_days, b.last_total, b.ewma
        )
        # day order: 80 -> (80+10)/2? no — days sort by DATE:
        # Jan1=80, Jan3=10, Jan4=10 -> 80 -> 45 -> 27.5
        assert last.n_days == 3
        assert last.ewma == 27.5
    finally:
        q.stop()


def test_streaming_incremental_dedup_matches_batch(spark, tmp_path):
    """The streaming incremental-dedup twin's survivors equal the
    batch docs_incremental_dedup semantics on the same rows: dropped
    vs the loaded corpus's fingerprints, then first-wins within the
    stream (arrival order = doc_id order here, the batch spec's
    framing) — including the md5(lower(trim())) normalization."""
    import json as _json
    import os

    from wistia_data_pipeline_project_spark.operators.text import fingerprint
    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        run_stream_to_memory,
        streaming_incremental_dedup,
    )
    from pyspark.sql import functions as F

    existing = spark.createDataFrame(
        [(1, "alpha doc"), (2, "beta doc")], "doc_id long, text string"
    ).select(fingerprint(F.col("text")).alias("fp"))

    rows = [
        # 10: dup of loaded corpus (normalized) -> dropped vs existing
        {"doc_id": 10, "ts": "2024-01-01T00:00:00", "source": "web",
         "text": "  ALPHA doc "},
        {"doc_id": 11, "ts": "2024-01-01T01:00:00", "source": "web",
         "text": "new A"},
        # 12: within-stream dup of 11 after normalization -> dropped
        {"doc_id": 12, "ts": "2024-01-01T02:00:00", "source": "api",
         "text": " new a"},
        {"doc_id": 13, "ts": "2024-01-01T03:00:00", "source": "api",
         "text": "new B"},
    ]
    d = tmp_path / "docs_in"
    os.makedirs(d)
    for i, chunk in enumerate((rows[:2], rows[2:])):
        with open(d / f"docs_{i}.jsonl", "w") as f:
            for e in chunk:
                f.write(_json.dumps(e) + "\n")
    schema = "doc_id long, ts timestamp, source string, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = run_stream_to_memory(
        streaming_incremental_dedup(stream, existing, watermark="1 day"),
        "incdedup_stream",
        output_mode="append",
    )
    try:
        got = {r.doc_id for r in
               spark.sql("SELECT * FROM incdedup_stream").collect()}
        # batch spec on the same rows: anti-join vs existing, then
        # first-wins (min doc_id) per fingerprint
        import datetime as dt

        batch_df = spark.createDataFrame(
            [(e["doc_id"], dt.datetime.fromisoformat(e["ts"]),
              e["source"], e["text"]) for e in rows],
            schema,
        ).select("doc_id", fingerprint(F.col("text")).alias("fp"))
        survivors = batch_df.join(existing, "fp", "left_anti")
        want = {
            r[0]
            for r in survivors.groupBy("fp")
            .agg(F.min("doc_id"))
            .select(F.col("min(doc_id)"))
            .collect()
        }
        assert got == want == {11, 13}
    finally:
        q.stop()


def test_streaming_incremental_dedup_watermark_eviction_bound(spark, tmp_path):
    """Both sides of the dropDuplicatesWithinWatermark contract: a
    duplicate arriving in a later micro-batch INSIDE the watermark
    window is dropped; after the watermark passes the first
    occurrence's event time, its fingerprint state evicts and a very
    late redelivery re-admits — the documented O(rate x watermark)
    state bound (production closes that hole by folding committed
    fingerprints back into the static side)."""
    import json as _json
    import os

    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        run_stream_to_memory,
        streaming_incremental_dedup,
    )

    chunks = [
        [{"doc_id": 1, "ts": "2024-01-01T00:00:00", "source": "web",
          "text": "same text"}],
        # in-window duplicate -> dropped; the Jan-10 row advances the
        # watermark to Jan 9
        [{"doc_id": 2, "ts": "2024-01-01T06:00:00", "source": "web",
          "text": "same text"},
         {"doc_id": 3, "ts": "2024-01-10T00:00:00", "source": "web",
          "text": "other text"}],
        # an INTERMEDIATE batch is required for eviction to land:
        # in-batch dedup runs before state eviction, so the batch
        # that first sees watermark > expiry still drops a
        # redelivery — eviction takes effect from the NEXT batch on
        [{"doc_id": 6, "ts": "2024-01-20T00:00:00", "source": "web",
          "text": "third text"}],
        # past-window redelivery -> re-admitted (the contract's bound)
        [{"doc_id": 4, "ts": "2024-01-19T01:00:00", "source": "web",
          "text": "same text"}],
    ]
    d = tmp_path / "docs_wm"
    os.makedirs(d)
    for i, chunk in enumerate(chunks):
        p = d / f"docs_{i}.jsonl"
        with open(p, "w") as f:
            for e in chunk:
                f.write(_json.dumps(e) + "\n")
        # the file source orders same-mtime files arbitrarily
        # (sub-ms writes tie) — force distinct mtimes so micro-batch
        # order IS chunk order, which this test's semantics need
        os.utime(p, (1700000000 + i * 10, 1700000000 + i * 10))
    schema = "doc_id long, ts timestamp, source string, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    empty_fp = spark.createDataFrame([], "fp string")
    q = run_stream_to_memory(
        streaming_incremental_dedup(stream, empty_fp, watermark="1 day"),
        "incdedup_wm_stream",
        output_mode="append",
    )
    try:
        got = {r.doc_id for r in
               spark.sql("SELECT * FROM incdedup_wm_stream").collect()}
        assert got == {1, 3, 6, 4}
    finally:
        q.stop()


def _holt_batch(spark, rows, schema):
    import datetime as dt

    from wistia_data_pipeline_project_spark.operators.timeseries import (
        holt_linear,
    )

    batch_df = spark.createDataFrame(
        [(e["event_id"], dt.datetime.fromisoformat(e["ts"]),
          e["user_id"], e["event_type"], e["value"], e["props"])
         for e in rows],
        schema,
    )
    prepared = batch_df.select(
        "user_id",
        F.date_trunc("DAY", F.col("ts")).alias("day"),
        (F.col("value").cast("decimal(12,2)") * 100)
        .cast("decimal(18,0)")
        .alias("cents"),
    )
    return {r.user_id: r for r in holt_linear(prepared).collect()}


def test_streaming_holt_matches_batch(spark, tmp_path):
    """The streaming Holt twin's final emission (max n_obs per user)
    is BIT-IDENTICAL to the batch holt_linear fold on the same rows —
    including an in-contract straggler day split across two
    micro-batches (pending partial-sum merge)."""
    import json as _json
    import os

    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        run_stream_to_memory,
        streaming_holt_linear,
    )

    def ev(eid, ts, uid, v):
        return {"event_id": eid, "ts": ts, "user_id": uid,
                "event_type": "view", "value": v, "props": "{}"}

    # user 1 day totals 100 / 40 / 16:
    #   l1=100 b1=0; l2=(40+100)/2=70 b2=(70-100)/2+0=-15;
    #   l3=(16+70-15)/2=35.5 b3=(35.5-70)/2-7.5=-24.75
    chunk1 = [
        ev(1, "2024-01-01T09:00:00", 1, 60.0),
        ev(2, "2024-01-01T15:00:00", 1, 40.0),   # day1 total 100
        ev(4, "2024-01-03T11:00:00", 1, 16.0),   # day3 total 16
        ev(5, "2024-01-02T08:00:00", 2, 7.5),    # user 2: single day
    ]
    chunk2 = [
        ev(3, "2024-01-02T12:00:00", 1, 15.0),
        ev(6, "2024-01-02T12:30:00", 1, 25.0),   # day2 total 40
    ]
    rows = chunk1 + chunk2
    d = tmp_path / "holt_in"
    os.makedirs(d)
    for i, chunk in enumerate((chunk1, chunk2)):
        with open(d / f"events_{i}.jsonl", "w") as f:
            for e in chunk:
                f.write(_json.dumps(e) + "\n")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = run_stream_to_memory(
        streaming_holt_linear(stream, watermark="1 day"),
        "holt_stream",
        output_mode="update",
    )
    try:
        emitted = spark.sql("SELECT * FROM holt_stream").collect()
        last = {}
        for r in emitted:
            if r.user_id not in last or r.n_obs > last[r.user_id].n_obs:
                last[r.user_id] = r
        batch = _holt_batch(spark, rows, schema)
        assert set(last) == set(batch)
        for uid, b in batch.items():
            s = last[uid]
            assert (s.n_days, s.level, s.trend, s.forecast) == (
                b.n_days, b.level, b.trend, b.forecast
            ), uid
            assert s.last_day.replace(tzinfo=None) == b.last_day
        assert last[1].level == 35.5
        assert last[1].trend == -24.75
        assert last[2].level == 7.5 and last[2].trend == 0.0
    finally:
        q.stop()


def test_streaming_holt_day_commits_only_past_day_end(spark, tmp_path):
    """Day-END commit discipline (the EWMA twin's): a row AT the
    watermark belongs to a still-open day; its second partial must
    merge into the SAME day total before the day ever folds."""
    import json as _json
    import os

    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        run_stream_to_memory,
        streaming_holt_linear,
    )

    def ev(eid, ts, v):
        return {"event_id": eid, "ts": ts, "user_id": 1,
                "event_type": "view", "value": v, "props": "{}"}

    chunks = [
        [ev(1, "2024-01-01T06:00:00", 80.0),
         ev(2, "2024-01-04T00:00:00", 10.0)],
        [ev(3, "2024-01-03T00:00:00", 4.0)],
        [ev(4, "2024-01-03T18:00:00", 6.0)],
    ]
    d = tmp_path / "holt_wm_in"
    os.makedirs(d)
    for i, chunk in enumerate(chunks):
        with open(d / f"events_{i}.jsonl", "w") as f:
            for e in chunk:
                f.write(_json.dumps(e) + "\n")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = run_stream_to_memory(
        streaming_holt_linear(stream, watermark="1 day"),
        "holt_wm_stream",
        output_mode="update",
    )
    try:
        last = max(
            spark.sql("SELECT * FROM holt_wm_stream").collect(),
            key=lambda r: r.n_obs,
        )
        rows = [e for c in chunks for e in c]
        b = _holt_batch(spark, rows, schema)[1]
        assert (last.n_days, last.level, last.trend, last.forecast) == (
            b.n_days, b.level, b.trend, b.forecast
        )
        # days Jan1=80, Jan3=10, Jan4=10 by hand:
        #   l1=80 b1=0; l2=45 b2=-17.5; l3=(10+45-17.5)/2=18.75
        #   b3=(18.75-45)/2-8.75=-21.875; forecast=-3.125
        assert last.n_days == 3
        assert last.level == 18.75 and last.trend == -21.875
    finally:
        q.stop()


def test_streaming_activity_bitmap_matches_batch(spark, tmp_path):
    """The bitmap twin needs NO commit discipline: bit-OR state is
    commutative and idempotent, so out-of-order delivery and a
    duplicate-day redelivery across micro-batches still reproduce the
    batch histogram exactly (final emission = max n_obs per user,
    rolled up and compared against the batch entry on the same rows)."""
    import json as _json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from wistia_data_pipeline_project_spark.plans import QUERIES
    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        run_stream_to_memory,
        streaming_activity_bitmap,
    )

    def ev(eid, ts, uid):
        return {"event_id": eid, "ts": ts, "user_id": uid,
                "event_type": "view", "value": 1.0, "props": "{}"}

    # user 1: days 0,2,4 (no streak); user 2: days 5,6,7 (streak),
    # day 5 redelivered in chunk 2 (idempotent); user 3: days 0,1
    chunk1 = [
        ev(1, "2024-01-01T09:00:00", 1),
        ev(2, "2024-01-05T09:00:00", 1),
        ev(3, "2024-01-06T10:00:00", 2),
        ev(4, "2024-01-07T10:00:00", 2),
        ev(5, "2024-01-01T11:00:00", 3),
    ]
    chunk2 = [
        ev(6, "2024-01-03T09:00:00", 1),   # out-of-order vs chunk 1
        ev(7, "2024-01-06T23:00:00", 2),   # duplicate day
        ev(8, "2024-01-08T10:00:00", 2),
        ev(9, "2024-01-02T11:00:00", 3),
    ]
    rows = chunk1 + chunk2
    d = tmp_path / "bm_in"
    os.makedirs(d)
    for i, chunk in enumerate((chunk1, chunk2)):
        with open(d / f"events_{i}.jsonl", "w") as f:
            for e in chunk:
                f.write(_json.dumps(e) + "\n")
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    import datetime as dt

    q = run_stream_to_memory(
        streaming_activity_bitmap(stream, dt.datetime(2024, 1, 1)),
        "bm_stream",
        output_mode="update",
    )
    try:
        emitted = spark.sql("SELECT * FROM bm_stream").collect()
        last = {}
        for r in emitted:
            if r.user_id not in last or r.n_obs > last[r.user_id].n_obs:
                last[r.user_id] = r
        # stream-side histogram rollup
        hist = {}
        for r in last.values():
            k = r.n_active_days
            n, s = hist.get(k, (0, 0))
            hist[k] = (n + 1, s + r.has_streak3)
        # batch entry on the same rows (anchor = corpus min = Jan 1)
        pdir = tmp_path / "bm_batch"
        os.makedirs(pdir)
        tbl = pa.table(
            {
                "event_id": pa.array([e["event_id"] for e in rows], pa.int64()),
                "ts": pa.array(
                    [dt.datetime.fromisoformat(e["ts"]) for e in rows],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([e["user_id"] for e in rows], pa.int64()),
                "event_type": pa.array(["view"] * len(rows), pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )
        pq.write_table(tbl, os.path.join(str(pdir), "events.parquet"))
        batch = {
            r["n_active_days"]: (r["n_users"], r["n_streak3_users"])
            for r in QUERIES["events_activity_bitmap"](
                spark, str(pdir)
            ).collect()
        }
        assert hist == batch
        assert last[2].has_streak3 == 1 and last[1].has_streak3 == 0
        assert last[2].n_active_days == 3  # duplicate day OR-ed once
    finally:
        q.stop()


def _drain_sink(spark, q, table, min_rows, timeout_s=240):
    """Wait for the memory sink to reach min_rows AND go quiet: final
    flushes ride trailing NO-DATA micro-batches that Spark schedules
    asynchronously after data batches commit their watermarks — under
    CPU contention several can still be pending when the row count
    first crosses min_rows, so drain until the count is stable across
    three consecutive polls."""
    import time as _time

    deadline = _time.time() + timeout_s
    stable, last = 0, -1
    while _time.time() < deadline:
        q.processAllAvailable()
        rows = spark.sql(f"SELECT * FROM {table}").collect()
        stable = stable + 1 if len(rows) == last else 0
        last = len(rows)
        if len(rows) >= min_rows and stable >= 2:
            return rows
        _time.sleep(1.0)
    return spark.sql(f"SELECT * FROM {table}").collect()


def _conc_events(uid, times):
    return [
        {"event_id": 1000 * uid + i, "ts": t, "user_id": uid,
         "event_type": "view", "value": 1.0, "props": "{}"}
        for i, t in enumerate(times)
    ]


def test_streaming_session_concurrency_matches_batch(spark, tmp_path):
    """NINTH twin parity: the shared sweep (concurrency_from_segments)
    over the twin's finalized segment emissions equals the batch
    events_session_concurrency entry on the same rows — including a
    midnight-spanning session, overlapping sessions (peak 2), a
    zero-length single-event session, and out-of-order arrival split
    across micro-batches. Each segment must emit exactly once."""
    import json as _json
    import os

    from wistia_data_pipeline_project_spark.operators import timeseries as TS
    from wistia_data_pipeline_project_spark.plans import QUERIES
    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        run_stream_to_memory,
        streaming_session_concurrency,
    )

    # user 1: 09:00-09:10 session; 23:50 -> 00:05 midnight-spanning
    # user 2: 09:05 single event (zero-length, overlaps user 1 -> peak 2)
    # user 3 (sentinel): far-future event to push the watermark
    rows = (
        _conc_events(1, ["2024-01-01T09:00:00", "2024-01-01T09:10:00",
                         "2024-01-01T23:50:00", "2024-01-02T00:05:00"])
        + _conc_events(2, ["2024-01-01T09:05:00"])
        + _conc_events(3, ["2024-02-15T00:00:00"])
    )
    # out-of-order across micro-batches: the 09:10 extension arrives
    # AFTER the 23:50 event; the sentinel rides the last file
    chunks = [
        [rows[0], rows[2]],
        [rows[1], rows[4]],
        [rows[3]],
        [rows[5]],
        # SECOND sentinel: the batch that runs AFTER the watermark
        # jump performs the timeout flush — a real data batch, so the
        # test never depends on Spark scheduling a no-data micro-batch
        # (observed flaky in long-lived suite sessions)
        _conc_events(3, ["2024-02-16T00:00:00"]),
    ]
    d = tmp_path / "conc_in"
    os.makedirs(d)
    for i, chunk in enumerate(chunks):
        with open(d / f"events_{i}.jsonl", "w") as f:
            for e in chunk:
                f.write(_json.dumps(e) + "\n")
        # FileStreamSource orders by modification time: chunks written
        # within one clock tick can process out of order, and if the
        # far-future watermark sentinel runs FIRST every real event is
        # dropped as late — pin strictly increasing mtimes
        os.utime(d / f"events_{i}.jsonl", (1000000 + i, 1000000 + i))
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = run_stream_to_memory(
        streaming_session_concurrency(stream, watermark="1 day"),
        "conc_stream",
        output_mode="update",
    )
    try:
        # 4 segments: two user-1 sessions (one spanning midnight -> 3
        # day-clipped rows) + user-2's zero-length session
        segs = _drain_sink(spark, q, "conc_stream", 4)
    finally:
        q.stop()
    # exactly-once emission per (user, day, cs, ce)
    keys = [(r.user_id, r.day, r.cs, r.ce) for r in segs]
    assert len(keys) == len(set(keys)), keys
    # real days only: the sentinel's own session is still open
    cutoff = 19750  # epoch-day past Jan 2024 (19723-24), before Feb 15
    got = {
        str(r.day): r
        for r in TS.concurrency_from_segments(
            spark.createDataFrame(
                [k for k in keys if k[1] < cutoff],
                "user_id long, day long, cs long, ce long",
            )
        ).collect()
    }

    batch_dir = tmp_path / "conc_batch"
    os.makedirs(batch_dir)
    spark.createDataFrame(
        [
            (r["event_id"], r["ts"].replace("T", " "), r["user_id"],
             r["event_type"], r["value"], r["props"])
            for r in rows
        ],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "props"
    ).write.parquet(os.path.join(batch_dir, "events.parquet"))
    want = {
        str(r.day): r
        for r in QUERIES["events_session_concurrency"](
            spark, str(batch_dir)
        ).collect()
        if r.day.strftime("%Y-%m") == "2024-01"
    }
    assert set(got) == set(want)
    for k, w in want.items():
        g = got[k]
        assert (g.n_sessions, g.n_users, g.peak_concurrent) == (
            w.n_sessions, w.n_users, w.peak_concurrent
        ), k
        assert g.busy_seconds == w.busy_seconds, k
        assert g.avg_concurrency == w.avg_concurrency, k
    # hand-checked shape: Jan 1 has 3 sessions (two user-1 + user-2),
    # peak 2 at 09:05; Jan 2 carries the midnight spill
    assert want["2024-01-01 00:00:00"].n_sessions == 3
    assert want["2024-01-01 00:00:00"].peak_concurrent == 2
    assert want["2024-01-02 00:00:00"].n_sessions == 1


def test_streaming_session_concurrency_boundary_straggler(spark, tmp_path):
    """Commit discipline: an event AT the watermark stays pending (a
    strictly-earlier tiebreak could still arrive), and a same-session
    extension arriving in a later micro-batch must merge into the OPEN
    session, not open a new one — the segment list shows ONE session
    covering both events."""
    import json as _json
    import os

    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        run_stream_to_memory,
        streaming_session_concurrency,
    )

    chunks = [
        _conc_events(1, ["2024-01-01T10:00:00"]),
        # arrives later but extends the same session (gap 20 min)
        _conc_events(1, ["2024-01-01T10:20:00"]),
        # sentinel pushes the watermark far past 10:50
        _conc_events(9, ["2024-03-01T00:00:00"]),
        _conc_events(9, ["2024-03-02T00:00:00"]),
    ]
    d = tmp_path / "strag_in"
    os.makedirs(d)
    for i, chunk in enumerate(chunks):
        with open(d / f"events_{i}.jsonl", "w") as f:
            for e in chunk:
                f.write(_json.dumps(e) + "\n")
        os.utime(d / f"events_{i}.jsonl", (1000000 + i, 1000000 + i))
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = run_stream_to_memory(
        streaming_session_concurrency(stream, watermark="1 day"),
        "strag_stream",
        output_mode="update",
    )
    try:
        segs = [r for r in _drain_sink(spark, q, "strag_stream", 1)
                if r.user_id == 1]
    finally:
        q.stop()
    assert len(segs) == 1, segs
    s = segs[0]
    base = 1704067200000000  # 2024-01-01T00:00:00Z in micros
    assert s.cs == base + 10 * 3600 * 1000000
    assert s.ce == base + (10 * 3600 + 20 * 60) * 1000000 + 1


def test_streaming_rolling_hll_matches_batch_sketch(spark, tmp_path):
    """TENTH twin parity: the append-mode windowed sketch estimate per
    closed window equals the batch entry's merged-daily-sketch
    estimate for the same day — register-exact, because HLL union is
    commutative and idempotent so direct aggregation and daily-merge
    see identical final registers regardless of arrival order. Feeds
    out-of-order chunks + duplicate redelivery to prove it."""
    import json as _json
    import os

    from pyspark.sql import functions as F
    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        run_stream_to_memory,
        streaming_rolling_hll_7d,
    )

    def ev(eid, ts, uid):
        return {"event_id": eid, "ts": ts, "user_id": uid,
                "event_type": "view", "value": 1.0, "props": "{}"}

    rows = (
        [ev(i, "2024-01-01T10:00:00", i) for i in range(5)]
        + [ev(100 + i, "2024-01-03T10:00:00", i + 3) for i in range(4)]
        + [ev(200 + i, "2024-01-12T10:00:00", i) for i in range(2)]
    )
    chunks = [
        rows[5:9],            # Jan 3 arrives first (out of order)
        rows[0:5] + rows[5:6],  # Jan 1 + a redelivered Jan 3 row
        rows[9:11],           # Jan 12
        [ev(999, "2024-03-01T00:00:00", 999)],  # sentinel closes all
        # second sentinel: append-mode windows closed by the first
        # sentinel's watermark emit in the NEXT batch — make that
        # batch a real data batch (no-data micro-batches are flaky in
        # long-lived suite sessions)
        [ev(1000, "2024-03-02T00:00:00", 999)],
    ]
    d = tmp_path / "hll_in"
    os.makedirs(d)
    for i, chunk in enumerate(chunks):
        with open(d / f"events_{i}.jsonl", "w") as f:
            for e in chunk:
                f.write(_json.dumps(e) + "\n")
        os.utime(d / f"events_{i}.jsonl", (1000000 + i, 1000000 + i))
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = run_stream_to_memory(
        streaming_rolling_hll_7d(stream, watermark="1 day"),
        "hll_twin_stream",
        output_mode="append",
    )
    try:
        emitted = _drain_sink(spark, q, "hll_twin_stream", 1)
    finally:
        q.stop()
    got = {str(r.day): r.wau_7d_est for r in emitted}

    batch = spark.createDataFrame(
        [(r["ts"].replace("T", " "), r["user_id"]) for r in rows],
        "ts string, user_id long",
    ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "user_id")
    ud = batch.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).distinct()
    daily = ud.groupBy("day").agg(F.hll_sketch_agg("user_id", 12).alias("sk"))
    cover = daily.select(
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias("d7"),
        "sk",
    )
    days = ud.select("day").distinct()
    want = {
        str(r.d7): r.est
        for r in cover.join(days, cover["d7"] == days["day"])
        .groupBy("d7")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
        )
        .collect()
    }
    # streaming emits every slide-grain day in the span; the batch
    # entry restricts to corpus days — compare on that domain
    want_keys = {k.split(" ")[0] for k in want}
    got_days = {k.split(" ")[0]: v for k, v in got.items()}
    missing = want_keys - set(got_days)
    assert not missing, f"corpus days never emitted: {missing} (got {got})"
    for k, est in want.items():
        assert got_days[k.split(" ")[0]] == est, (k, got_days, want)
    # hand-check: Jan 3's trailing week = users 0..6 -> 8... actually
    # {0..4} ∪ {3..6} = 7 distinct; Jan 12 window sees only {0,1}
    assert got_days["2024-01-03"] == 7
    assert got_days["2024-01-12"] == 2


def _funnel_events(uid, pairs):
    return [
        {"event_id": 10_000 * uid + i, "ts": t, "user_id": uid,
         "event_type": et, "value": 1.0, "props": "{}"}
        for i, (t, et) in enumerate(pairs)
    ]


def _funnel_chunks_to_dir(tmp_path, name, chunks):
    import json as _json
    import os

    d = tmp_path / name
    os.makedirs(d)
    for i, chunk in enumerate(chunks):
        with open(d / f"events_{i}.jsonl", "w") as f:
            for e in chunk:
                f.write(_json.dumps(e) + "\n")
        os.utime(d / f"events_{i}.jsonl", (1000000 + i, 1000000 + i))
    return d


_FUNNEL_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string")


def test_streaming_window_funnel_matches_batch(spark, tmp_path):
    """ELEVENTH twin parity: per-user max level over the twin's
    finalized per-start emissions equals the batch
    events_window_funnel histogram on the same rows — covering a full
    level-3 chain, a second start that only reaches level 2, a
    click-less purchase (stays level 1), and out-of-order arrival
    split across micro-batches. Exactly one emission per (user, t_v)."""
    import os

    from wistia_data_pipeline_project_spark.plans import QUERIES
    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        run_stream_to_memory,
        streaming_window_funnel,
    )

    u1 = _funnel_events(1, [
        ("2024-01-01T00:00:00", "view"),
        ("2024-01-02T00:00:00", "click"),
        ("2024-01-03T00:00:00", "purchase"),
        # second start: click follows (Jan 6) but no purchase after
        # that click inside [Jan 5, Jan 12] -> level 2
        ("2024-01-05T00:00:00", "view"),
        ("2024-01-06T00:00:00", "click"),
    ])
    u2 = _funnel_events(2, [("2024-01-01T06:00:00", "view")])
    u4 = _funnel_events(4, [
        ("2024-01-01T00:00:00", "view"),
        ("2024-01-02T00:00:00", "purchase"),  # no click: level 1
    ])
    sentinel = _funnel_events(3, [("2024-02-15T00:00:00", "view")])
    sentinel2 = _funnel_events(3, [("2024-02-16T00:00:00", "view")])
    # out-of-order: user 1's click arrives BEFORE its view; the
    # sentinel rides its own later files
    chunks = [
        [u1[1], u4[0]],
        [u1[0], u1[2], u2[0]],
        [u1[3], u1[4], u4[1]],
        sentinel,
        sentinel2,
    ]
    d = _funnel_chunks_to_dir(tmp_path, "funnel_in", chunks)
    stream = (
        spark.readStream.schema(_FUNNEL_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = run_stream_to_memory(
        streaming_window_funnel(stream, watermark="1 day"),
        "funnel_stream",
        output_mode="update",
    )
    try:
        # 4 finalized starts: u1 x2, u2 x1, u4 x1 — and none for the
        # sentinel (its own window never closes)
        rows = _drain_sink(spark, q, "funnel_stream", 4)
    finally:
        q.stop()
    keys = [(r.user_id, r.t_v) for r in rows]
    assert len(keys) == len(set(keys)), keys
    assert all(r.user_id != 3 for r in rows)
    per_user = {}
    for r in rows:
        per_user[r.user_id] = max(per_user.get(r.user_id, 0), r.level)
    assert per_user == {1: 3, 2: 1, 4: 1}
    # the level-2 second start emitted as its own row
    got_levels = sorted(
        (r.t_v, r.level) for r in rows if r.user_id == 1
    )
    assert [lv for _, lv in got_levels] == [3, 2]

    # batch histogram over the same (non-sentinel) rows
    batch_dir = tmp_path / "funnel_batch"
    os.makedirs(batch_dir)
    spark.createDataFrame(
        [
            (r["event_id"], r["ts"].replace("T", " "), r["user_id"],
             r["event_type"], r["value"], r["props"])
            for r in u1 + u2 + u4
        ],
        _FUNNEL_SCHEMA.replace("ts timestamp", "ts string"),
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value", "props"
    ).write.parquet(os.path.join(batch_dir, "events.parquet"))
    want = {
        r.level: r.n_users
        for r in QUERIES["events_window_funnel"](
            spark, str(batch_dir)
        ).collect()
    }
    got = {}
    for lv in per_user.values():
        got[lv] = got.get(lv, 0) + 1
    assert got == want


def test_streaming_window_funnel_boundary_straggler(spark, tmp_path):
    """Commit discipline: a start finalizes only when the watermark
    passes STRICTLY beyond t_v + 7d, so a click delivered in a later
    micro-batch — while the window was still open — must land in the
    chain: the emitted level is 2, never a premature 1."""
    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        run_stream_to_memory,
        streaming_window_funnel,
    )

    v = _funnel_events(1, [("2024-01-01T00:00:00", "view")])
    # wm after this sentinel = Jan 8 00:00 - 1d = Jan 7 00:00 < window
    # close Jan 8: start NOT finalizable yet
    s1 = _funnel_events(3, [("2024-01-08T00:00:00", "view")])
    # straggler click inside the window, delivered after s1
    c = _funnel_events(1, [("2024-01-07T12:00:00", "click")])
    # pushes wm past Jan 8 -> finalize at level 2
    s2 = _funnel_events(3, [("2024-02-15T00:00:00", "view")])
    s3 = _funnel_events(3, [("2024-02-16T00:00:00", "view")])
    d = _funnel_chunks_to_dir(
        tmp_path, "funnel_strag", [v, s1, c, s2, s3]
    )
    stream = (
        spark.readStream.schema(_FUNNEL_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = run_stream_to_memory(
        streaming_window_funnel(stream, watermark="1 day"),
        "funnel_strag_stream",
        output_mode="update",
    )
    try:
        rows = [r for r in _drain_sink(spark, q, "funnel_strag_stream", 1)
                if r.user_id == 1]
    finally:
        q.stop()
    assert len(rows) == 1, rows
    assert rows[0].level == 2


def test_streaming_window_funnel_redelivered_events(spark, tmp_path):
    """At-least-once delivery: the full chain redelivered in a later
    micro-batch must not double-emit the start nor corrupt the level —
    one (user, t_v) row, level 3."""
    from wistia_data_pipeline_project_spark.streaming.pipeline import (
        run_stream_to_memory,
        streaming_window_funnel,
    )

    chain = _funnel_events(1, [
        ("2024-01-01T00:00:00", "view"),
        ("2024-01-02T00:00:00", "click"),
        ("2024-01-03T00:00:00", "purchase"),
    ])
    d = _funnel_chunks_to_dir(
        tmp_path, "funnel_redeliver",
        [
            chain,
            chain,  # verbatim redelivery
            _funnel_events(3, [("2024-02-15T00:00:00", "view")]),
            _funnel_events(3, [("2024-02-16T00:00:00", "view")]),
        ],
    )
    stream = (
        spark.readStream.schema(_FUNNEL_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = run_stream_to_memory(
        streaming_window_funnel(stream, watermark="1 day"),
        "funnel_rd_stream",
        output_mode="update",
    )
    try:
        rows = [r for r in _drain_sink(spark, q, "funnel_rd_stream", 1)
                if r.user_id == 1]
    finally:
        q.stop()
    assert len(rows) == 1, rows
    assert rows[0].level == 3
