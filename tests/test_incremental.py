"""Incremental pipeline semantics: HWM monotonicity, re-run
idempotence via event_key dedup, append/overwrite modes, date
partitioning (SURVEY §2.10 / §5 item 4)."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from pyspark.sql import functions as F

from wistia_data_pipeline_project_spark.operators.incremental import (
    dedup_events,
    filter_increment,
    read_high_water_mark,
    run_incremental_pipeline,
)
from wistia_data_pipeline_project_spark.schemas import (
    WISTIA_EVENT_SCHEMA,
    WISTIA_MEDIA_SCHEMA,
    nullable_copy,
)

from tests.wistia_fixtures import RUN_TS, make_events, make_media

MEDIA = make_media()
EVENTS = make_events(MEDIA)
CUT = dt.datetime(2025, 5, 6, tzinfo=dt.timezone.utc)


@pytest.fixture()
def out_dir(tmp_path):
    return str(tmp_path / "warehouse")


def _dfs(spark):
    ev = spark.createDataFrame(EVENTS, nullable_copy(WISTIA_EVENT_SCHEMA))
    md = spark.createDataFrame(MEDIA, nullable_copy(WISTIA_MEDIA_SCHEMA))
    return ev, md


def test_first_run_then_increment(spark, out_dir):
    ev, md = _dfs(spark)
    batch1 = ev.filter(
        (F.col("received_at") < F.lit(CUT)) | F.col("received_at").isNull()
    )
    counts1 = run_incremental_pipeline(spark, batch1, md, out_dir, RUN_TS)
    assert counts1["fact_appended"] > 0
    assert counts1["contract_passed"] == 1  # grain/keys/referential

    hwm1 = read_high_water_mark(
        spark, os.path.join(out_dir, "fact_media_engagement")
    )
    assert hwm1 is not None

    counts2 = run_incremental_pipeline(spark, ev, md, out_dir, RUN_TS)
    fact = spark.read.parquet(os.path.join(out_dir, "fact_media_engagement"))
    # second run only appended groups strictly past the HWM
    assert counts2["fact_appended"] > 0
    assert counts2["contract_passed"] == 1
    hwm2 = read_high_water_mark(
        spark, os.path.join(out_dir, "fact_media_engagement")
    )
    assert hwm2 >= hwm1  # HWM monotone
    # date partitioning materialized on disk
    parts = [d for d in os.listdir(os.path.join(out_dir, "fact_media_engagement")) if d.startswith("date=")]
    assert parts


def test_rerun_appends_nothing_new(spark, out_dir):
    ev, md = _dfs(spark)
    run_incremental_pipeline(spark, ev, md, out_dir, RUN_TS)
    counts = run_incremental_pipeline(spark, ev, md, out_dir, RUN_TS)
    assert counts["fact_appended"] == 0  # all events <= HWM filtered


def test_dedup_events_removes_overlap(spark):
    ev, _ = _dfs(spark)
    n_all = ev.count()
    n_dedup = dedup_events(ev).count()
    n_distinct = ev.select("event_key").distinct().count()
    assert n_dedup == n_distinct < n_all  # fixture plants a dup key


def test_filter_increment_strictness(spark):
    ev, _ = _dfs(spark)
    hwm = CUT.replace(tzinfo=None)
    inc = filter_increment(ev, hwm)
    assert inc.filter(F.col("received_at") <= F.lit(hwm)).count() == 0


def test_dim_overwrite_not_append(spark, out_dir):
    ev, md = _dfs(spark)
    run_incremental_pipeline(spark, ev, md, out_dir, RUN_TS)
    n1 = spark.read.parquet(os.path.join(out_dir, "dim_media")).count()
    run_incremental_pipeline(spark, ev, md, out_dir, RUN_TS)
    n2 = spark.read.parquet(os.path.join(out_dir, "dim_media")).count()
    assert n1 == n2 == len(MEDIA)


def test_hwm_since_param_overlap():
    import datetime as dt

    from wistia_data_pipeline_project_spark.operators.incremental import (
        hwm_since_param,
    )

    assert hwm_since_param(None) is None
    hwm = dt.datetime(2025, 5, 12, 10, 0, 30, tzinfo=dt.timezone.utc)
    # backward 1s overlap: boundary events are re-fetched, never gapped
    assert hwm_since_param(hwm) == "2025-05-12T10:00:29Z"


def test_dedup_events_deterministic_survivor(spark):
    """Same event_key re-delivered with an updated payload: the
    earliest (received_at, key) row wins on ANY partitioning."""
    import datetime as dt

    from wistia_data_pipeline_project_spark.operators.incremental import (
        dedup_events,
    )

    t0 = dt.datetime(2025, 5, 1, tzinfo=dt.timezone.utc)
    rows = [
        ("ev1", t0, 0.2),
        ("ev1", t0 + dt.timedelta(seconds=5), 0.9),  # re-delivery, later ts
        ("ev2", t0, 0.5),
    ]
    df = spark.createDataFrame(
        rows, "event_key string, received_at timestamp, percent_viewed double"
    )
    for parts in (1, 7):
        got = {
            r.event_key: r.percent_viewed
            for r in dedup_events(df.repartition(parts)).collect()
        }
        assert got == {"ev1": 0.2, "ev2": 0.5}


def test_merge_upsert_latest_wins_and_update_wins_ties(spark):
    from wistia_data_pipeline_project_spark.operators.incremental import (
        merge_upsert,
    )

    target = spark.createDataFrame(
        [(1, 5, "old"), (2, 9, "keep")], "k long, v long, tag string"
    )
    updates = spark.createDataFrame(
        [(1, 5, "new"), (3, 1, "ins")], "k long, v long, tag string"
    )
    got = {
        r.k: (r.v, r.tag)
        for r in merge_upsert(target, updates, ["k"], ["v"]).collect()
    }
    # k=1: identical order value 5 → the UPDATE row must win the tie;
    # k=2: untouched target row survives; k=3: pure insert
    assert got == {1: (5, "new"), 2: (9, "keep"), 3: (1, "ins")}


def test_scd2_history_interval_integrity(spark, sf_dir):
    """SCD2 invariants: per key exactly one open (is_current) interval;
    versions are dense from 1; each closed interval's valid_to equals
    the next version's valid_from; consecutive versions always change
    the attribute value."""
    from wistia_data_pipeline_project_spark.operators.incremental import scd2_history
    from wistia_data_pipeline_project_spark.sources.io import load_table

    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    hist = scd2_history(e, ["user_id"], "event_type", ["ts", "event_id"]).collect()
    by_user: dict = {}
    for r in hist:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for uid, rows in by_user.items():
        rows.sort(key=lambda r: r.version)
        assert [r.version for r in rows] == list(range(1, len(rows) + 1)), uid
        assert sum(1 for r in rows if r.is_current) == 1, uid
        assert rows[-1].is_current and rows[-1].valid_to is None, uid
        for a, b in zip(rows, rows[1:]):
            assert a.valid_to == b.valid_from, uid
            assert a.event_type != b.event_type, uid


def test_compact_parquet_collapses_small_files(spark, sf_dir, tmp_path):
    from wistia_data_pipeline_project_spark.operators.incremental import (
        compact_parquet,
    )
    from wistia_data_pipeline_project_spark.sources.io import load_table

    path = str(tmp_path / "swamp")
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(37).write.parquet(path)  # simulate append swamp
    before = docs.count()

    stats = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert stats["files_before"] >= 37
    assert stats["files_after"] == 1
    back = spark.read.parquet(path)
    assert back.count() == before
    # content identical (set compare on the doc ids)
    assert {r["doc_id"] for r in back.select("doc_id").collect()} == {
        r["doc_id"] for r in docs.select("doc_id").collect()
    }


def test_compact_parquet_empty_dir(spark, tmp_path):
    from wistia_data_pipeline_project_spark.operators.incremental import (
        compact_parquet,
    )

    d = tmp_path / "nothing"
    d.mkdir()
    assert compact_parquet(spark, str(d)) == {"files_before": 0, "files_after": 0}


def test_backfill_overwrites_only_touched_partitions(spark, tmp_path):
    import datetime as dt

    from wistia_data_pipeline_project_spark.operators.incremental import (
        write_fact_backfill,
    )

    path = str(tmp_path / "fact")
    rows = [
        (m, d, float(v))
        for d, (m, v) in {
            dt.date(2025, 5, 1): ("m1", 10.0),
            dt.date(2025, 5, 2): ("m1", 20.0),
            dt.date(2025, 5, 3): ("m1", 30.0),
        }.items()
    ]
    base = spark.createDataFrame(rows, "media_id string, date date, watch double")
    base.write.partitionBy("date").parquet(path)

    # backfill ONLY 2025-05-02 with corrected numbers
    fix = spark.createDataFrame(
        [("m1", dt.date(2025, 5, 2), 99.0)],
        "media_id string, date date, watch double",
    )
    write_fact_backfill(fix, path)

    got = {
        (str(r["date"])): r["watch"]
        for r in spark.read.parquet(path).collect()
    }
    assert got == {"2025-05-01": 10.0, "2025-05-02": 99.0, "2025-05-03": 30.0}
    # conf restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"
    )


def test_scd2_collapses_null_runs(spark):
    import datetime as dt

    from wistia_data_pipeline_project_spark.operators.incremental import (
        scd2_history,
    )

    t = lambda i: dt.datetime(2025, 1, 1, i)  # noqa: E731
    df = spark.createDataFrame(
        [
            ("k", "A", t(1), 1),
            ("k", None, t(2), 2),  # A -> NULL is a real transition
            ("k", None, t(3), 3),  # NULL run collapses
            ("k", "A", t(4), 4),  # NULL -> A reopens A
        ],
        "key string, attr string, ts timestamp, seq long",
    )
    hist = scd2_history(df, ["key"], "attr", ["ts", "seq"]).collect()
    assert [(r["attr"], r["version"]) for r in sorted(hist, key=lambda r: r["version"])] == [
        ("A", 1),
        (None, 2),
        ("A", 3),
    ]
    assert hist[-1]["is_current"]


def test_compact_parquet_partitioned_layout(spark, tmp_path):
    import datetime as dt

    from wistia_data_pipeline_project_spark.operators.incremental import (
        compact_parquet,
    )

    path = str(tmp_path / "fact")
    df = spark.createDataFrame(
        [("m", dt.date(2025, 5, 1 + i % 2), float(i)) for i in range(40)],
        "media_id string, date date, v double",
    )
    df.repartition(10).write.partitionBy("date").parquet(path)
    stats = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert stats["files_before"] >= 10
    assert stats["files_after"] == 2  # one file per date partition
    back = spark.read.parquet(path)
    assert back.count() == 40
    assert {str(r["date"]) for r in back.select("date").distinct().collect()} == {
        "2025-05-01",
        "2025-05-02",
    }


def test_vacuum_drops_only_expired_partitions(spark, tmp_path):
    import datetime as dt

    from wistia_data_pipeline_project_spark.operators.incremental import (
        vacuum_partitions,
    )

    path = str(tmp_path / "fact")
    df = spark.createDataFrame(
        [("m", dt.date(2025, 5, d), 1.0) for d in (1, 10, 20)],
        "media_id string, date date, v double",
    )
    df.write.partitionBy("date").parquet(path)
    stats = vacuum_partitions(
        spark, path, keep_days=15, now=dt.date(2025, 5, 21)
    )
    assert stats == {"dropped": 1, "kept": 2}  # only 05-01 expired
    left = {str(r["date"]) for r in spark.read.parquet(path).collect()}
    assert left == {"2025-05-10", "2025-05-20"}


def test_append_with_schema_evolution_pattern(spark, tmp_path):
    """The engine's append sinks tolerate additive schema evolution:
    parquet + mergeSchema reads the union schema, old rows NULL in the
    new column (the pattern a fact-table column addition follows)."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, x string").write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.0)], "id long, x string, quality double"
    ).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    rows = {r["id"]: r for r in merged.collect()}
    assert set(merged.columns) == {"id", "x", "quality"}
    assert rows[1]["quality"] is None and rows[2]["quality"] == 9.0


def test_csv_source_audits_corrupt_rows(spark, tmp_path):
    from pyspark.sql import types as T

    from wistia_data_pipeline_project_spark.sources.io import read_csv_table

    p = tmp_path / "rows.csv"
    p.write_text("id,v\n1,2.5\n2,notanumber\n3,4.0\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    good, corrupt = read_csv_table(spark, str(p), schema)
    assert {r["id"] for r in good.collect()} == {1, 3}
    bad = corrupt.collect()
    assert len(bad) == 1 and "notanumber" in bad[0]["_corrupt_record"]


def test_date_dim_spine(spark):
    from wistia_data_pipeline_project_spark.sources.io import build_date_dim

    dim = build_date_dim(spark, "2025-02-26", "2025-03-03")
    rows = {str(r["date"]): r for r in dim.collect()}
    assert len(rows) == 6  # inclusive span
    assert rows["2025-03-01"]["month"] == 3
    assert rows["2025-03-01"]["is_weekend"]  # a Saturday
    assert rows["2025-02-26"]["year_month"] == "2025-02"
    assert str(rows["2025-02-26"]["month_end"]) == "2025-02-28"


def test_atomic_append_ignores_crashed_run(spark, out_dir):
    """A run that dies after moving data files but before its manifest
    rename must contribute nothing: the gated reader and HWM skip the
    orphan files, and the next run reclaims them (VERDICT r02 item 3)."""
    import glob
    import shutil

    from wistia_data_pipeline_project_spark.operators.incremental import (
        read_fact_committed,
    )

    ev, md = _dfs(spark)
    run_incremental_pipeline(spark, ev, md, out_dir, RUN_TS)
    fact_path = os.path.join(out_dir, "fact_media_engagement")
    committed = read_fact_committed(spark, fact_path)
    n_committed = committed.count()
    hwm_before = committed.agg(F.max("last_event_timestamp")).head()[0]

    # simulate the crash window: a data file lands in a live partition
    # dir under a run id that never committed, plus staging debris
    some_part = glob.glob(os.path.join(fact_path, "date=*", "*.parquet"))[0]
    orphan = os.path.join(
        os.path.dirname(some_part), "deadrun-" + os.path.basename(some_part)
    )
    shutil.copyfile(some_part, orphan)
    stage = os.path.join(fact_path, "_staging", "deadrun", "date=2025-05-01")
    os.makedirs(stage)
    shutil.copyfile(some_part, os.path.join(stage, "part-00000.parquet"))

    # naive reader sees the orphan rows; the gated reader must not
    assert spark.read.parquet(fact_path).count() > n_committed
    assert read_fact_committed(spark, fact_path).count() == n_committed

    counts = run_incremental_pipeline(spark, ev, md, out_dir, RUN_TS)
    assert counts["fact_appended"] == 0  # orphan never advanced the HWM
    assert not os.path.exists(orphan)  # rolled back
    assert not os.path.exists(os.path.join(fact_path, "_staging"))
    after = read_fact_committed(spark, fact_path)
    assert after.count() == n_committed
    assert after.agg(F.max("last_event_timestamp")).head()[0] == hwm_before


def test_rerun_same_run_ts_keeps_prior_manifest(spark, out_dir):
    """Two runs at the same scheduled run_ts commit under distinct
    manifests — the second must not overwrite the first's file list."""
    import glob

    from wistia_data_pipeline_project_spark.operators.incremental import (
        read_fact_committed,
    )

    ev, md = _dfs(spark)
    batch1 = ev.filter(
        (F.col("received_at") < F.lit(CUT)) | F.col("received_at").isNull()
    )
    c1 = run_incremental_pipeline(spark, batch1, md, out_dir, RUN_TS)
    c2 = run_incremental_pipeline(spark, ev, md, out_dir, RUN_TS)
    assert c1["fact_appended"] > 0 and c2["fact_appended"] > 0
    fact_path = os.path.join(out_dir, "fact_media_engagement")
    manifests = glob.glob(os.path.join(fact_path, "_commits", "*.json"))
    assert len(manifests) == 2
    total = read_fact_committed(spark, fact_path).count()
    assert total == c1["fact_appended"] + c2["fact_appended"]


def test_compact_refuses_manifest_gated_table(spark, out_dir):
    from wistia_data_pipeline_project_spark.operators.incremental import (
        compact_parquet,
    )

    ev, md = _dfs(spark)
    run_incremental_pipeline(spark, ev, md, out_dir, RUN_TS)
    with pytest.raises(ValueError, match="manifest-gated"):
        compact_parquet(spark, os.path.join(out_dir, "fact_media_engagement"))


def test_compact_cleans_stale_tmp_and_preserves_rows(spark, tmp_path):
    from wistia_data_pipeline_project_spark.operators.incremental import (
        compact_parquet,
    )

    path = str(tmp_path / "t")
    spark.range(0, 1000).repartition(8).write.parquet(path)
    # stale debris from a previously crashed compaction
    os.makedirs(path + "._compact")
    os.makedirs(path + "._old")
    stats = compact_parquet(spark, path)
    assert stats["files_before"] == 8 and stats["files_after"] == 1
    assert spark.read.parquet(path).count() == 1000
    assert not os.path.exists(path + "._compact")
    assert not os.path.exists(path + "._old")


def test_contract_passes_on_mid_date_hwm_cut(spark, out_dir):
    """The HWM is a timestamp but the fact grain date is
    to_date(received_at): a second run cut mid-date legitimately
    appends a second row for a grain run 1 already wrote. The contract
    is scoped to each run's own rows, so both runs must pass while the
    table holds two rows for that grain."""
    _, md = _dfs(spark)
    day = dt.datetime(2025, 5, 3, tzinfo=dt.timezone.utc)

    def session(key_base, start_hour):
        t = day + dt.timedelta(hours=start_hour)
        base = EVENTS[0]
        out = []
        for j, pct in enumerate((0.1, 0.5, 0.9)):
            row = dict(base)
            row.update(
                received_at=t + dt.timedelta(seconds=30 * j),
                event_key=f"{key_base}{j}",
                media_id="med001",
                visitor_key="visGRAIN",
                percent_viewed=pct,
                name=None,
            )
            out.append(row)
        return out

    rows = session("am", 10) + session("pm", 14)
    ev = spark.createDataFrame(rows, nullable_copy(WISTIA_EVENT_SCHEMA))
    cut = day + dt.timedelta(hours=12)
    c1 = run_incremental_pipeline(
        spark, ev.filter(F.col("received_at") < F.lit(cut)), md, out_dir, RUN_TS
    )
    c2 = run_incremental_pipeline(spark, ev, md, out_dir, RUN_TS)
    assert c1["fact_appended"] == 1 and c2["fact_appended"] == 1
    assert c1["contract_passed"] == 1 and c2["contract_passed"] == 1
    fact = spark.read.parquet(os.path.join(out_dir, "fact_media_engagement"))
    grain = fact.filter(
        (F.col("media_id") == "med001") & (F.col("visitor_id") == "visGRAIN")
    )
    assert grain.count() == 2  # same grain, two committed runs


def test_legacy_table_migrates_into_commit_log(spark, out_dir):
    """A table written by plain (pre-manifest) appends must survive its
    first atomic append: the pre-existing files are claimed by a
    one-time legacy manifest, so the NEXT run's rollback cannot read
    them as crashed-run debris."""
    from wistia_data_pipeline_project_spark.operators.incremental import (
        read_fact_committed,
        rollback_uncommitted,
        write_fact_append,
        write_fact_append_atomic,
    )

    fact_path = os.path.join(out_dir, "fact_media_engagement")
    # legacy era: plain un-gated append
    legacy_rows = spark.createDataFrame(
        [("m1", "v1", dt.date(2025, 5, 1), 3)],
        "media_id string, visitor_id string, date date, plays long",
    )
    write_fact_append(legacy_rows, fact_path)
    # gated era begins
    more = spark.createDataFrame(
        [("m2", "v2", dt.date(2025, 5, 2), 1)], legacy_rows.schema
    )
    write_fact_append_atomic(more, fact_path, "r1")
    stats = rollback_uncommitted(fact_path)  # next run's first step
    assert stats["removed_files"] == 0  # legacy files were claimed
    assert read_fact_committed(spark, fact_path).count() == 2
    assert spark.read.parquet(fact_path).count() == 2


def test_compact_parquet_recovers_interrupted_swap(spark, sf_dir, tmp_path):
    """A crash between rename(path, old) and rename(tmp, path) leaves
    the only copy at ._old — the next compact run must restore it,
    not report success-shaped zeros."""
    import os

    from wistia_data_pipeline_project_spark.operators.incremental import (
        compact_parquet,
    )
    from wistia_data_pipeline_project_spark.sources.io import load_table

    path = str(tmp_path / "t")
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(5).write.parquet(path)
    n = docs.count()

    # simulate the crash window: live dir renamed aside, swap dies
    os.rename(path, path + "._old")
    assert not os.path.exists(path)

    stats = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert stats["files_after"] == 1
    assert spark.read.parquet(path).count() == n
    assert not os.path.exists(path + "._old")


def test_compact_parquet_skips_swap_debris_partitions(spark, sf_dir, tmp_path):
    """date=X._old / date=X._compact siblings are swap debris, not
    partitions: the hive-layout recursion must recover the orphaned
    one (live dir missing) and must NOT compact a stale copy whose
    live partition still exists."""
    import os
    import shutil

    from wistia_data_pipeline_project_spark.operators.incremental import (
        compact_parquet,
    )
    from wistia_data_pipeline_project_spark.sources.io import load_table

    path = str(tmp_path / "t")
    events = load_table(spark, sf_dir, "events").selectExpr(
        "event_id", "to_date(ts) AS date", "event_type"
    )
    events.write.partitionBy("date").parquet(path)
    parts = sorted(
        d for d in os.listdir(path) if d.startswith("date=")
    )
    n = spark.read.parquet(path).count()

    # partition 0: crash window (live missing, only ._old remains)
    p0 = os.path.join(path, parts[0])
    os.rename(p0, p0 + "._old")
    # partition 1: stale ._compact copy next to the live partition
    p1 = os.path.join(path, parts[1])
    shutil.copytree(p1, p1 + "._compact")

    compact_parquet(spark, path, target_file_bytes=1 << 30)
    back = spark.read.parquet(path)
    assert back.count() == n  # p0 restored, p1 not double-counted
    assert os.path.isdir(p0)
    assert not os.path.exists(p0 + "._old")


# --- run accounting from the commit log and the writes' observations ----


def _fact_path(out_dir):
    return os.path.join(out_dir, "fact_media_engagement")


def _scan_hwm(spark, fact_path):
    from wistia_data_pipeline_project_spark.operators.incremental import (
        read_fact_committed,
    )

    committed = read_fact_committed(spark, fact_path)
    if committed is None:
        return None
    return committed.agg(F.max("last_event_timestamp")).head()[0]


def _committed_rows(spark, fact_path):
    from wistia_data_pipeline_project_spark.operators.incremental import (
        read_fact_committed,
    )

    committed = read_fact_committed(spark, fact_path)
    return committed.count() if committed is not None else 0


def _three_runs(spark, out_dir):
    """(kind, run) for an initial load, an increment and a replay, in
    that order; ``run()`` runs the pipeline and returns its counts."""
    ev, md = _dfs(spark)
    batch1 = ev.filter(
        (F.col("received_at") < F.lit(CUT)) | F.col("received_at").isNull()
    )

    def runner(events):
        return lambda: run_incremental_pipeline(spark, events, md, out_dir, RUN_TS)

    return [
        ("initial", runner(batch1)),
        ("increment", runner(ev)),
        ("replay", runner(ev)),
    ]


def test_manifest_hwm_equals_scan_hwm(spark, out_dir):
    """Every run commits its observed ``rows``/``hwm_us``; the HWM taken
    from those stats equals a scan of the committed files after each
    run kind, and the stats are usable (no scan needed)."""
    from wistia_data_pipeline_project_spark.operators.incremental import (
        committed_high_water_mark,
        manifest_high_water_mark,
        read_manifests,
    )

    fp = _fact_path(out_dir)
    for kind, run in _three_runs(spark, out_dir):
        run()
        assert all({"rows", "hwm_us"} <= set(m) for m in read_manifests(fp)), kind
        usable, hwm = manifest_high_water_mark(fp)
        assert usable, kind
        assert hwm is not None and hwm == _scan_hwm(spark, fp), kind
        assert committed_high_water_mark(spark, fp) == hwm, kind


def test_hwm_falls_back_to_scan_on_old_manifest(spark, out_dir):
    """A manifest written before the stats existed (no ``hwm_us``)
    sends the HWM to the scan; the next run still reads the old
    manifest, and the rows it reports are the rows it committed."""
    import glob
    import json

    from wistia_data_pipeline_project_spark.operators.incremental import (
        committed_high_water_mark,
        manifest_high_water_mark,
    )

    fp = _fact_path(out_dir)
    (_, initial), (_, increment), _ = _three_runs(spark, out_dir)
    initial()
    (m,) = glob.glob(os.path.join(fp, "_commits", "*.json"))
    with open(m) as fh:
        old = json.load(fh)
    with open(m, "w") as fh:
        json.dump({"run_id": old["run_id"], "files": old["files"]}, fh)
    assert manifest_high_water_mark(fp) == (False, None)
    assert committed_high_water_mark(spark, fp) == _scan_hwm(spark, fp)

    before = _committed_rows(spark, fp)
    counts = increment()
    assert counts["fact_appended"] > 0
    assert counts["fact_appended"] == _committed_rows(spark, fp) - before
    # the old manifest still lacks the stat: the scan stays in charge
    assert manifest_high_water_mark(fp)[0] is False
    assert committed_high_water_mark(spark, fp) == _scan_hwm(spark, fp)


def test_hwm_falls_back_to_scan_on_migrated_legacy_table(spark, out_dir):
    """A plain-append table migrated into the commit log: the legacy
    manifest carries no stats, so the HWM is the scan's."""
    import shutil

    from wistia_data_pipeline_project_spark.operators.incremental import (
        committed_high_water_mark,
        manifest_high_water_mark,
    )

    fp = _fact_path(out_dir)
    (_, initial), (_, increment), _ = _three_runs(spark, out_dir)
    initial()
    shutil.rmtree(os.path.join(fp, "_commits"))  # now a legacy table
    hwm_legacy = _scan_hwm(spark, fp)
    assert manifest_high_water_mark(fp) == (False, None)
    assert committed_high_water_mark(spark, fp) == hwm_legacy

    increment()  # migrates, then appends the increment
    assert os.path.exists(os.path.join(fp, "_commits", "00000000-legacy.json"))
    assert manifest_high_water_mark(fp) == (False, None)
    hwm = committed_high_water_mark(spark, fp)
    assert hwm == _scan_hwm(spark, fp) and hwm > hwm_legacy


def test_hwm_falls_back_to_scan_when_committed_file_is_gone(spark, out_dir):
    """A committed file deleted behind the commit log's back: the
    manifest max would still cover its rows, so the HWM must come from
    a scan of what is left."""
    import pyarrow.parquet as pq

    from wistia_data_pipeline_project_spark.operators.incremental import (
        committed_high_water_mark,
        list_committed_files,
        manifest_high_water_mark,
    )

    fp = _fact_path(out_dir)
    (_, initial), _, _ = _three_runs(spark, out_dir)
    initial()
    usable, stat_hwm = manifest_high_water_mark(fp)
    assert usable
    files = [os.path.join(fp, f) for f in list_committed_files(fp)]
    assert len(files) > 1

    def file_max(f):
        ts = pq.read_table(f, columns=["last_event_timestamp"]).column(0)
        return max(t for t in ts.to_pylist() if t is not None)

    newest = max(files, key=file_max)
    os.remove(newest)
    assert manifest_high_water_mark(fp) == (False, None)
    hwm = committed_high_water_mark(spark, fp)
    assert hwm == _scan_hwm(spark, fp) and hwm < stat_hwm


def test_returned_counts_equal_written_tables(spark, out_dir):
    """The counts a run returns come from its writes' observations;
    they equal the dims re-read from disk and the committed-fact delta
    for every run kind."""
    from wistia_data_pipeline_project_spark.operators.incremental import (
        read_manifests,
    )

    fp = _fact_path(out_dir)
    for kind, run in _three_runs(spark, out_dir):
        before = _committed_rows(spark, fp)
        counts = run()
        assert counts == {
            "dim_media": spark.read.parquet(os.path.join(out_dir, "dim_media")).count(),
            "dim_visitor": spark.read.parquet(
                os.path.join(out_dir, "dim_visitor")
            ).count(),
            "fact_appended": _committed_rows(spark, fp) - before,
            "contract_passed": 1,
        }, kind
        assert read_manifests(fp)[-1]["rows"] == counts["fact_appended"], kind
    assert counts["fact_appended"] == 0  # the replay


# Spark jobs a replay may start at the test session's config (8 cores,
# the fixture tables): visitor-dim eager checkpoint, both dim writes
# and the staged fact write. A re-count of any table or a scan for the
# HWM adds at least one job.
REPLAY_JOB_BUDGET = 11


def test_replay_job_budget(spark, out_dir):
    sc = spark.sparkContext
    (_, initial), (_, increment), (_, replay) = _three_runs(spark, out_dir)
    initial()
    increment()
    group = f"replay-budget-{os.getpid()}"
    sc.setJobGroup(group, "replay job budget")
    try:
        counts = replay()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert counts["fact_appended"] == 0
    assert 0 < jobs <= REPLAY_JOB_BUDGET, jobs
