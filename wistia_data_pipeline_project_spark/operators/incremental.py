"""Incremental load semantics (SURVEY §2.2 K1-K5, §2.10): the
reference's hand-rolled streaming-by-scheduler pipeline, re-expressed
on partitioned Parquet tables.

Reference behaviors:
- High-water mark: ``SELECT MAX(event_timestamp) FROM fact`` before
  fetching (process_wistia_data_v2.py:132-166); +1 s overlap buffer
  (process_wistia_data.py:413-416).
- Fact loads WRITE_APPEND (process_wistia_data.py:528); dims
  WRITE_TRUNCATE (:515).
- Duplicates on re-run acknowledged but unhandled
  (process_wistia_data.py:207-208) — the engine closes that gap with
  ``event_key`` dedup before aggregation, making re-runs idempotent.
- Date partitioning exists only as dead commented-out DDL
  (process_wistia_data_v2.py:81-83) — realized here as
  ``partitionBy("date")``.

Scale: the fact table partitions by date so increments append only
new date partitions and downstream date-range queries prune. Dims are
small and overwritten whole.

Run accounting without re-reads: each write carries a
``DataFrame.observe`` (``pyspark.sql.Observation``), so its row count
— and, for the fact, its max ``last_event_timestamp`` — arrive with
the write job itself. The fact's stats are committed in the run's
manifest (see the atomic append block), so the next run's HWM is a
driver-side read of the commit log, not a scan; the returned counts
are the observed ones, not re-count jobs.
"""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wistia_data_pipeline_project_spark.ckpt import spill_checkpoint
from wistia_data_pipeline_project_spark.schemas import (
    DIM_VISITOR_SCHEMA,
    FACT_MEDIA_ENGAGEMENT_SCHEMA,
)

HWM_OVERLAP = dt.timedelta(seconds=1)


def hwm_since_param(hwm: dt.datetime | None) -> str | None:
    """S2 pushdown parameter: the ``since`` value the source fetch
    should apply. The reference buffers FORWARD (hwm + 1 s,
    process_wistia_data.py:410-417) which can MISS events landing
    inside that second; the engine buffers BACKWARD — re-fetch a 1 s
    overlap and let the event-key dedup collapse the re-deliveries,
    so no event can fall in a gap. None on first run → fetch all."""
    if hwm is None:
        return None
    return (hwm - HWM_OVERLAP).strftime("%Y-%m-%dT%H:%M:%SZ")


def read_high_water_mark(
    spark: SparkSession, fact_path: str, ts_col: str = "last_event_timestamp"
) -> dt.datetime | None:
    """Max event timestamp in the sink, or None on first run
    (first-run fallback: process_wistia_data_v2.py:614-619).

    Engine improvement over the reference: the fact carries
    ``last_event_timestamp`` (max raw event ts per group), so the HWM
    covers every ingested event — reading the reference's
    ``event_timestamp`` (the group's FIRST event) would re-ingest the
    tail events of the newest groups on every run (the duplicate
    wrinkle acknowledged at process_wistia_data.py:207-208)."""
    if not os.path.exists(fact_path):
        return None
    row = (
        spark.read.parquet(fact_path)
        .filter(F.col(ts_col).isNotNull())
        .agg(F.max(ts_col).alias("hwm"))
        .head()
    )
    return row["hwm"] if row else None


def filter_increment(
    events: DataFrame, hwm: dt.datetime | None, ts_col: str = "received_at"
) -> DataFrame:
    """Keep events strictly past the HWM. Callers push the fetch-side
    predicate via ``fetch_events(since=hwm_since_param(hwm))`` (S2
    pushdown with a 1 s overlap); this in-plan re-filter keeps
    correctness independent of source behavior."""
    if hwm is None:
        return events
    return events.filter(F.col(ts_col) > F.lit(hwm))


def dedup_events(events: DataFrame, key_col: str = "event_key") -> DataFrame:
    """Idempotence guard: one row per event key (the +1 s overlap
    re-fetches boundary events; unique event_key makes re-runs safe).

    Deterministic survivor: the overlap window can re-deliver a key
    with an UPDATED payload; ``dropDuplicates`` would keep an
    arbitrary partition-dependent row, so the min over a
    (received_at, key) total order wins instead — same shuffle, and
    re-runs reproduce bit-identically on any partitioning."""
    cols = events.columns
    # (received_at, key) alone is NOT a total order inside a key group
    # (key is constant; the 1s-overlap refetch can redeliver the same
    # event_key at the same second-resolution timestamp with a changed
    # payload) — a full-row fingerprint breaks the tie so the survivor
    # is partitioning-independent, keeping the bit-identical-rerun
    # guarantee honest.
    row_fp = F.md5(F.to_json(F.struct(*cols)))
    return (
        events.groupBy(key_col)
        .agg(
            F.min_by(
                F.struct(*cols), F.struct("received_at", row_fp)
            ).alias("_r")
        )
        .select("_r.*")
    )


def _observed(df: DataFrame, *metrics) -> tuple[DataFrame, Observation]:
    """``df`` with an Observation of its row count (``rows``) and of
    ``metrics``, filled in by the first action that runs it — the
    write — at no extra job."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows"), *metrics), obs


def write_dim(df: DataFrame, path: str) -> int:
    """WRITE_TRUNCATE → full-refresh overwrite. Returns the rows
    written, observed on the write itself."""
    df, obs = _observed(df)
    df.write.mode("overwrite").parquet(path)
    return obs.get["rows"]


def write_fact_append(df: DataFrame, path: str) -> None:
    """WRITE_APPEND with date partitioning (realizing the reference's
    commented-out partition DDL). Plain append — no commit gate; the
    incremental pipeline uses ``write_fact_append_atomic`` instead so
    a mid-write failure cannot feed the next HWM probe."""
    df.write.mode("append").partitionBy("date").parquet(path)


# --- atomic append commit -------------------------------------------------
#
# The reference gets all-or-nothing loads for free from BigQuery load
# jobs (process_wistia_data.py:197-234); plain parquet append has a
# commit window where a crash leaves partial files the next HWM read
# would treat as ingested. The engine closes it with a Delta-style
# (public-technique) manifest gate, keeping the PLAIN date-partitioned
# parquet layout so naive readers still work:
#
#   1. stage the increment under  <path>/_staging/<run_id>/   — the
#      leading underscore hides it from every Spark/parquet reader;
#   2. move the staged files into the live  date=*/  dirs under
#      run-prefixed names (per-file renames, same filesystem);
#   3. COMMIT = one atomic rename of  <path>/_commits/<run_id>.json
#      listing the run's files. Until it lands, the run does not
#      exist: the pipeline's HWM/contract/count readers union only
#      manifest-listed files, and the next run ROLLS BACK any data
#      file no manifest claims.
#
# Manifest keys: ``run_id``, ``files`` (paths relative to the table),
# and the run's stats observed on the staged write: ``rows`` (rows
# committed) and ``hwm_us`` (max ``last_event_timestamp`` in epoch
# micros; null when the run wrote no timestamp). The one-time legacy
# manifest and manifests written before the stats existed carry only
# ``run_id``/``files``; they still read, and any one of them sends the
# HWM back to a scan of the committed files
# (``committed_high_water_mark``).
#
# Object-store mapping: steps 1-2 become a conditional-PUT of objects
# under a run prefix and step 3 a single manifest PUT — the same
# commit point.


def _commits_dir(path: str) -> str:
    return os.path.join(path, "_commits")


def read_manifests(path: str) -> list[dict]:
    """Every committed run manifest of the table, in commit-name order
    (driver-side metadata read — manifests are tiny)."""
    import glob as _glob

    out = []
    for m in sorted(_glob.glob(os.path.join(_commits_dir(path), "*.json"))):
        with open(m) as fh:
            out.append(json.load(fh))
    return out


def list_committed_files(path: str) -> list[str]:
    """Relative paths of every data file recorded by a committed run
    manifest."""
    return [f for m in read_manifests(path) for f in m["files"]]


def has_commit_log(path: str) -> bool:
    """True when the table is manifest-gated. Tables written before
    the gate existed (plain appends, no ``_commits``) stay readable in
    legacy mode: every file is treated as committed."""
    return os.path.isdir(_commits_dir(path))


def read_fact_committed(spark: SparkSession, path: str) -> DataFrame | None:
    """The gated reader: only manifest-committed files. None when the
    table does not exist or has no committed data. ``basePath`` keeps
    the ``date`` partition column alive on the explicit file list; the
    declared fact schema spares the schema-inference job."""
    if not os.path.exists(path):
        return None
    reader = spark.read.schema(FACT_MEDIA_ENGAGEMENT_SCHEMA)
    if not has_commit_log(path):
        return reader.parquet(path)  # legacy plain-append table
    files = [os.path.join(path, f) for f in list_committed_files(path)]
    files = [f for f in files if os.path.exists(f)]
    if not files:
        return None
    return reader.option("basePath", path).parquet(*files)


def manifest_high_water_mark(path: str) -> tuple[bool, dt.datetime | None]:
    """(usable, hwm) from the commit log alone: the max of the
    manifests' ``hwm_us`` stats, as the datetime a scan would collect.
    Not usable — the caller must scan — when the table has no commit
    log, when any manifest lacks the stat (the legacy-migration
    manifest, manifests written before the stats existed), or when a
    listed file no longer exists (the stat would then cover rows the
    committed view has lost)."""
    if not has_commit_log(path):
        return False, None
    manifests = read_manifests(path)
    if any("hwm_us" not in m for m in manifests) or not all(
        os.path.exists(os.path.join(path, f)) for m in manifests for f in m["files"]
    ):
        return False, None
    stats = [m["hwm_us"] for m in manifests if m["hwm_us"] is not None]
    return True, T.TimestampType().fromInternal(max(stats)) if stats else None


def committed_high_water_mark(
    spark: SparkSession, path: str
) -> dt.datetime | None:
    """The HWM over the committed fact rows: the manifest stats when
    every manifest carries one (no Spark job), else a scan of the
    committed files. Both give the same value on every table."""
    usable, hwm = manifest_high_water_mark(path)
    if usable:
        return hwm
    committed = read_fact_committed(spark, path)
    if committed is None:
        return None
    row = committed.agg(F.max("last_event_timestamp").alias("hwm")).head()
    return row["hwm"] if row else None


def rollback_uncommitted(path: str) -> dict[str, int]:
    """Remove every trace of runs that never committed: staged run
    dirs and live-tree data files no manifest claims (the crashed
    window between file moves and the manifest rename). Single-writer
    discipline, like the reference's scheduler — do not run while an
    append is in flight. No-op on legacy tables (no ``_commits``)."""
    import glob as _glob
    import shutil

    removed_files = 0
    staging = os.path.join(path, "_staging")
    if os.path.isdir(staging):
        shutil.rmtree(staging)
    if not has_commit_log(path):
        return {"removed_files": 0}
    committed = set(list_committed_files(path))
    for f in _glob.glob(os.path.join(path, "*=*", "*.parquet")):
        rel = os.path.relpath(f, path)
        if rel not in committed:
            os.remove(f)
            removed_files += 1
    return {"removed_files": removed_files}


def write_fact_append_atomic(df: DataFrame, path: str, run_id: str) -> int:
    """Stage → move → manifest-commit append (see block comment).
    Returns the number of data files committed; the manifest also
    records the staged write's observed ``rows`` and ``hwm_us`` (the
    latter only when ``df`` has ``last_event_timestamp``). A failure
    anywhere before the final rename leaves the table's committed view
    byte-identical; ``rollback_uncommitted`` reclaims the debris."""
    import glob as _glob
    import shutil

    # one-time migration: a legacy table (plain appends, no _commits)
    # gets its pre-existing files claimed by a "legacy" manifest BEFORE
    # the first gated append — otherwise the next run's rollback would
    # read them as crashed-run debris and delete committed data
    if not has_commit_log(path):
        # "._" dirs are compact_parquet swap debris, never live data
        legacy = [
            os.path.relpath(f, path)
            for f in _glob.glob(os.path.join(path, "*=*", "*.parquet"))
            if "._" not in os.path.basename(os.path.dirname(f))
        ]
        if legacy:
            os.makedirs(_commits_dir(path), exist_ok=True)
            tmp0 = os.path.join(_commits_dir(path), "00000000-legacy.json.tmp")
            with open(tmp0, "w") as fh:
                json.dump({"run_id": "legacy", "files": sorted(legacy)}, fh)
            os.rename(tmp0, os.path.join(_commits_dir(path), "00000000-legacy.json"))

    stage = os.path.join(path, "_staging", run_id)
    has_ts = "last_event_timestamp" in df.columns
    hwm = [F.max(F.unix_micros("last_event_timestamp")).alias("hwm_us")]
    df, obs = _observed(df, *(hwm if has_ts else []))
    df.write.mode("overwrite").partitionBy("date").parquet(stage)
    stats = obs.get
    moved: list[str] = []
    for f in sorted(_glob.glob(os.path.join(stage, "*=*", "part-*"))):
        part_dir = os.path.basename(os.path.dirname(f))
        dest_dir = os.path.join(path, part_dir)
        os.makedirs(dest_dir, exist_ok=True)
        dest = os.path.join(dest_dir, f"{run_id}-{os.path.basename(f)}")
        os.replace(f, dest)
        moved.append(os.path.relpath(dest, path))
    shutil.rmtree(os.path.join(path, "_staging"))
    os.makedirs(_commits_dir(path), exist_ok=True)
    manifest = os.path.join(_commits_dir(path), f"{run_id}.json")
    tmp = manifest + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"run_id": run_id, "files": moved, **stats}, fh)
    os.rename(tmp, manifest)  # THE commit point
    return len(moved)


def read_high_water_mark_table(
    spark: SparkSession, table: str, ts_col: str = "last_event_timestamp"
) -> dt.datetime | None:
    """Catalog-table twin of ``read_high_water_mark``."""
    if not spark.catalog.tableExists(table):
        return None
    row = (
        spark.table(table)
        .filter(F.col(ts_col).isNotNull())
        .agg(F.max(ts_col).alias("hwm"))
        .head()
    )
    return row["hwm"] if row else None


def _insert(df: DataFrame, table: str, overwrite: bool) -> None:
    """Positional insert in the TABLE's column order (a partitioned
    table moves its partition columns last; selecting by the live
    table's order keeps the write correct either way)."""
    spark = df.sparkSession
    df.select(*spark.table(table).columns).write.insertInto(table, overwrite)


def merge_dim_visitor(existing: DataFrame, new: DataFrame) -> DataFrame:
    """Merge a new increment's visitor dimension into the existing
    one, keeping the EARLIEST-seen row per visitor (same first-wins
    rule as the dim itself). The increment only carries post-HWM
    events, so truncating with just the new rows — the reference's
    literal WRITE_TRUNCATE — would erase every previously-seen
    visitor; the merge preserves full history while staying a
    truncate-and-rewrite at the storage layer. One shuffle on
    visitor_id; map-side combinable struct-min."""
    cols = existing.columns
    merged = existing.unionByName(new.select(*cols))
    first = F.min(
        F.struct(*[c for c in cols if c != "visitor_id"])
    ).alias("f")
    return (
        merged.groupBy("visitor_id")
        .agg(first)
        .select("visitor_id", *[F.col(f"f.{c}") for c in cols if c != "visitor_id"])
    )


def run_incremental_pipeline_tables(
    spark: SparkSession,
    events: DataFrame,
    media: DataFrame,
    database: str,
    run_ts: dt.datetime,
    location: str | None = None,
) -> dict[str, int]:
    """One scheduled run against PROVISIONED catalog tables — the
    full reference loop (create-if-not-exists → HWM probe → fetch →
    transform → WRITE_TRUNCATE dims / WRITE_APPEND fact,
    process_wistia_data.py:364-542) on the K5 DDL surface instead of
    bare paths. Idempotent end to end: provisioning no-ops when the
    tables exist, and the event-key dedup + HWM filter make re-runs
    append nothing.

    Commit semantics: ``insertInto`` on a catalog table uses Spark's
    committer (job-level temp-dir rename), whose remaining crash
    window is the commit phase itself; the PATH pipeline
    (``run_incremental_pipeline``) closes that window fully with the
    manifest gate (``write_fact_append_atomic``). Deployments that
    need all-or-nothing appends on catalog tables should back them
    with a transactional table format — the manifest gate is that
    mechanism built from plain parquet."""
    from ..sources.ddl import provision_warehouse
    from .dims import transform_media_data, transform_visitor_data
    from .fact import fact_media_engagement

    provision_warehouse(spark, database, location)
    fact_table = f"{database}.fact_media_engagement"
    hwm = read_high_water_mark_table(spark, fact_table)
    inc = dedup_events(filter_increment(events, hwm))

    dim_media = transform_media_data(media, run_ts)
    # the increment only holds post-HWM events: merge new visitors
    # into the existing dimension (first-wins) instead of truncating
    # history away; localCheckpoint breaks the read-then-overwrite
    # cycle on the same table
    dim_visitor = spill_checkpoint(
        merge_dim_visitor(
            spark.table(f"{database}.dim_visitor"),
            transform_visitor_data(inc, run_ts),
        ),
        eager=True,
    )
    fact = fact_media_engagement(inc, dim_media, run_ts)

    _insert(dim_media, f"{database}.dim_media", overwrite=True)
    _insert(dim_visitor, f"{database}.dim_visitor", overwrite=True)
    _insert(fact, fact_table, overwrite=False)
    return {
        "dim_media": spark.table(f"{database}.dim_media").count(),
        "dim_visitor": spark.table(f"{database}.dim_visitor").count(),
        "fact_total": spark.table(fact_table).count(),
    }


def run_incremental_pipeline(
    spark: SparkSession,
    events: DataFrame,
    media: DataFrame,
    out_dir: str,
    run_ts: dt.datetime,
) -> dict[str, int]:
    """One scheduled run, end-to-end (entry point 1 shape,
    process_wistia_data.py:364-542): rollback of crashed runs → HWM →
    increment filter → dedup → dims overwrite → atomic fact append →
    run-scoped contract. Returns row counts per table: ``dim_media``
    and ``dim_visitor`` (rows written), ``fact_appended`` (rows this
    run committed) and ``contract_passed``.

    No Spark job runs only to count: the HWM is the max of the
    manifests' ``hwm_us`` stats (``committed_high_water_mark``; a scan
    of the committed files when a manifest lacks the stat or a listed
    file is gone), and every count is an Observation on the write that
    produced it. The pipeline's own tables are read with their
    declared schemas, so no schema-inference job runs either.

    Crash safety: the fact append is manifest-committed
    (``write_fact_append_atomic``), and the HWM reads ONLY committed
    manifests and files — a run that died mid-write contributes neither
    rows nor HWM to the next run's state, and its debris is reclaimed
    here first.
    """
    from .dims import transform_media_data, transform_visitor_data
    from .fact import fact_media_engagement
    from .quality import evaluate_expectations, not_null, unique

    fact_path = os.path.join(out_dir, "fact_media_engagement")
    if os.path.exists(fact_path):
        rollback_uncommitted(fact_path)
    hwm = committed_high_water_mark(spark, fact_path)
    inc = dedup_events(filter_increment(events, hwm))

    dim_media = transform_media_data(media, run_ts)
    dim_visitor = transform_visitor_data(inc, run_ts)
    # preserve visitors first seen before the HWM (the increment can't
    # re-derive them); checkpoint breaks the read-then-overwrite cycle
    vis_path = os.path.join(out_dir, "dim_visitor")
    if os.path.exists(vis_path):
        dim_visitor = spill_checkpoint(
            merge_dim_visitor(
                spark.read.schema(DIM_VISITOR_SCHEMA).parquet(vis_path), dim_visitor
            ),
            eager=True,
        )
    fact = fact_media_engagement(inc, dim_media, run_ts)

    n_media = write_dim(dim_media, os.path.join(out_dir, "dim_media"))
    n_visitor = write_dim(dim_visitor, vis_path)
    # unique run id: run_ts plus a manifest sequence number, so a
    # re-run at the same scheduled timestamp commits under its own
    # manifest instead of overwriting the previous run's file list
    seq = len(read_manifests(fact_path))
    run_id = f"{run_ts.strftime('%Y%m%dT%H%M%S')}-r{seq:04d}"
    write_fact_append_atomic(fact, fact_path, run_id)
    with open(os.path.join(_commits_dir(fact_path), f"{run_id}.json")) as fh:
        run = json.load(fh)
    # post-load contract (quality.py), scoped to THIS RUN's rows: the
    # pipeline guarantees unique grain and non-NULL keys WITHIN a run
    # (dedup + aggregation); across runs a grain can legitimately
    # recur whenever the HWM cut isn't aligned to a UTC date boundary
    # (the HWM is a timestamp, the grain date is to_date(received_at)),
    # so a whole-table unique check would false-positive on run 2.
    # Referential integrity (fact.media_id ∈ dim) is deliberately NOT
    # asserted: like the reference's duration-lookup default, events
    # for media absent from the catalog still aggregate (left join),
    # so orphan facts are a monitored condition, not a load failure.
    contract_passed = 1
    if run["files"]:
        written_run = (
            spark.read.schema(FACT_MEDIA_ENGAGEMENT_SCHEMA)
            .option("basePath", fact_path)
            .parquet(*[os.path.join(fact_path, f) for f in run["files"]])
        )
        report = evaluate_expectations(
            written_run,
            [
                unique(["media_id", "visitor_id", "date"]),
                not_null("media_id"),
                not_null("visitor_id"),
            ],
        )
        contract_passed = int(all(passed for _, passed, *_ in report))
    return {
        "dim_media": n_media,
        "dim_visitor": n_visitor,
        "fact_appended": run["rows"],
        "contract_passed": contract_passed,
    }


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
) -> DataFrame:
    """SCD1 latest-wins merge: one surviving row per key from
    target ∪ updates, ordered by ``order_cols`` with updates winning
    exact ties (the CDC convention: a replayed row with an identical
    version stamp must apply the update).

    The incremental-load counterpart of ``merge_dim_visitor``'s
    first-wins rule. Same engine idiom as ``exact_dedup``: a single
    ``max_by(struct(row), struct(order, source_rank))`` hash
    aggregate — one shuffle keyed on the merge key, duplicates
    collapse map-side, no window sort, no skew cliff on a hot key.
    The correctness contract (asserted by the catalog entry's oracle)
    is incremental equivalence:
    ``merge(snapshot(t0), delta(t0..t1)) == recompute(t1)``.
    """
    cols = target.columns
    t = target.select(*cols).withColumn("_src", F.lit(0))
    u = updates.select(*cols).withColumn("_src", F.lit(1))
    ordk = F.struct(*[F.col(c) for c in order_cols], F.col("_src"))
    row = F.struct(*[F.col(c) for c in cols])
    return (
        t.unionByName(u)
        .groupBy(*key_cols)
        .agg(F.max_by(row, ordk).alias("_r"))
        .select("_r.*")
    )


def scd2_history(
    df: DataFrame,
    key_cols: list[str],
    attr_col: str,
    order_cols: list[str],
    ts_col: str = "ts",
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a change stream:
    collapse each key's consecutive runs of the same ``attr_col``
    value into validity intervals ``[valid_from, valid_to)`` with a
    per-key version number and an ``is_current`` flag on the open
    interval.

    The reference keeps only the latest dim row (WRITE_TRUNCATE full
    refresh, ``/root/reference/process_wistia_data.py:515``); SCD2 is
    the warehouse-standard upgrade that preserves history without
    reprocessing — the merge_upsert (SCD1) output is exactly the
    ``is_current`` slice of this operator's output.

    Scale: two window passes over ONE shuffle on the key (lag to mark
    run starts, lead over the filtered change rows for valid_to) —
    state per row is a handful of scalars, no text or payload moves.
    Ordering must be made unique via ``order_cols`` (e.g. ts +
    event_id) or run boundaries are nondeterministic under ties.
    NULL attribute values form runs like any other value (null-safe
    change detection).
    """
    w = W.partitionBy(*key_cols).orderBy(*order_cols)
    # NULL-safe run detection: a NULL attribute is a real SCD2 state,
    # so "first row of the key" is detected by row_number (a NULL lag
    # is ambiguous between first-row and prev-attr-was-NULL) and value
    # changes use null-safe equality — transitions A→NULL→A produce
    # three versions, and NULL runs collapse like any other value.
    changed = (
        df.withColumn("_prev", F.lag(attr_col).over(w))
        .withColumn("_rn", F.row_number().over(w))
        .filter(
            (F.col("_rn") == 1) | ~F.col("_prev").eqNullSafe(F.col(attr_col))
        )
    )
    wc = W.partitionBy(*key_cols).orderBy(*order_cols)
    return changed.select(
        *key_cols,
        F.col(attr_col),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(wc).alias("valid_to"),
        F.row_number().over(wc).alias("version"),
        F.lead(ts_col).over(wc).isNull().alias("is_current"),
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, int]:
    """Small-file compaction: rewrite a parquet directory into
    ~total_bytes/target files (the maintenance job that keeps
    incremental-append tables from degrading into a small-file swamp —
    every append in this engine creates files, and at 100 TB scan task
    count tracks file count).

    Crash-safe swap: clean any stale ``._compact`` from a previous
    failed run, write the rewrite to ``<path>._compact``, COUNT-VERIFY
    it against the source, rename the original aside to
    ``<path>._old``, rename the rewrite into place, then delete the
    original — at no point is the live path missing both copies, and
    a crash at any step leaves either the original live or the
    original recoverable at ``._old`` (object stores would write a
    new versioned prefix and flip a manifest instead — same shape).
    Reads the footer sizes only; returns before/after file counts.

    Manifest-gated tables (``_commits`` present) are refused:
    renaming their data files would orphan every manifest — compact
    such tables partition-by-partition with a manifest rewrite.

    Scale: one round-robin shuffle sized from real bytes; coalesce()
    would avoid the shuffle but inherits upstream partitioning and
    can't SPLIT oversized inputs, so repartition is the general tool.
    """
    import glob as _glob
    import shutil

    if has_commit_log(path):
        raise ValueError(
            f"{path} is manifest-gated (_commits present); compacting "
            "would orphan its run manifests"
        )
    tmp = path.rstrip("/") + "._compact"
    old = path.rstrip("/") + "._old"
    # crash recovery FIRST: a previous run killed between the two
    # renames left the live path missing and the only copy at ._old —
    # restore it before anything else (and before the stale cleanup
    # below could destroy it)
    if not os.path.exists(path) and os.path.isdir(old):
        os.rename(old, path)
    files = _glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        # hive-partitioned layout (date=.../part-*.parquet): compact
        # each partition directory independently — preserves the
        # partition layout and bounds each rewrite to one partition
        # (the backfill-sized unit of work). "._" dirs are this
        # function's own swap debris (date=X._old / date=X._compact),
        # never live partitions — recursing into them as partitions
        # would resurrect a stale copy under a bogus partition value.
        parts = sorted(
            d
            for d in _glob.glob(os.path.join(path, "*=*"))
            if os.path.isdir(d) and "._" not in os.path.basename(d)
        )
        # recover any partition whose swap was killed mid-rename
        for d in sorted(_glob.glob(os.path.join(path, "*=*._old"))):
            live = d[: -len("._old")]
            if not os.path.exists(live):
                os.rename(d, live)
                if live not in parts:
                    parts.append(live)
        parts = sorted(parts)
        if parts:
            agg = {"files_before": 0, "files_after": 0}
            for d in parts:
                st = compact_parquet(spark, d, target_file_bytes)
                agg["files_before"] += st["files_before"]
                agg["files_after"] += st["files_after"]
            return agg
        return {"files_before": 0, "files_after": 0}
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // target_file_bytes))
    # the live path exists here (files is non-empty), so any leftover
    # ._compact/._old is genuinely stale debris, safe to clear
    for stale in (tmp, old):
        if os.path.exists(stale):
            shutil.rmtree(stale)
    n_before = spark.read.parquet(path).count()
    spark.read.parquet(path).repartition(int(n_out)).write.mode(
        "overwrite"
    ).parquet(tmp)
    n_after = spark.read.parquet(tmp).count()
    if n_after != n_before:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"compaction row-count mismatch for {path}: "
            f"{n_before} -> {n_after}; original left untouched"
        )
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    after = len(_glob.glob(os.path.join(path, "*.parquet")))
    return {"files_before": len(files), "files_after": after}


def write_fact_backfill(
    df: DataFrame,
    path: str,
    partition_col: str = "date",
) -> None:
    """Partition-scoped backfill: dynamic partition overwrite replaces
    ONLY the date partitions present in ``df``, leaving every other
    partition's files untouched — the correction semantics between the
    reference's two extremes (full TRUNCATE vs blind APPEND,
    ``process_wistia_data.py:515,528``). Re-running a corrected
    transform for a date range is idempotent and cannot double-append.

    Scale: the overwritten set is exactly the partitions the backfill
    touches; a 3-day correction on a 5-year table rewrites 3
    directories. The conf is set per-write on the session (Spark has
    no per-writer option for it) and restored after.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def vacuum_partitions(
    spark: SparkSession,
    path: str,
    keep_days: int,
    now: dt.date,
    partition_col: str = "date",
) -> dict[str, int]:
    """Retention vacuum: drop date partitions older than ``keep_days``
    (the lifecycle-policy twin of compaction — the reference's
    warehouse grows forever). Deletion is partition-directory-scoped,
    so it never rewrites surviving data; pass ``now`` explicitly for
    deterministic, testable cutoffs (no wall-clock reads in library
    code).

    Scale: a directory listing plus unlink per expired partition —
    no Spark job at all; object stores map this to a prefix delete.
    """
    import glob as _glob
    import shutil

    cutoff = now - dt.timedelta(days=keep_days)
    dropped = kept = 0
    for d in sorted(_glob.glob(os.path.join(path, f"{partition_col}=*"))):
        if not os.path.isdir(d):
            continue
        val = os.path.basename(d).split("=", 1)[1]
        try:
            part_date = dt.date.fromisoformat(val)
        except ValueError:
            kept += 1  # unparseable partition: never delete silently
            continue
        if part_date < cutoff:
            shutil.rmtree(d)
            dropped += 1
        else:
            kept += 1
    return {"dropped": dropped, "kept": kept}
