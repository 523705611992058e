"""Fact transform: media-engagement rollup at (media_id, visitor_id,
date) grain, including the reference's stateful watch-time operator.

Behavioral source (what to compute, not how):
``/root/reference/process_wistia_data_v2.py:350-531`` —
grouping/null-key filter (:360-389), play count with progress fallback
(:397-400), the sequential watch-time fold (:402-465), duration clamp
(:467-469), play-rate ratio + zero-forcing (:472-481, :526-530), first
event timestamp (:484-492), max percent (:495-497), first non-null
ip/country (:499-513).

Two implementations, cross-checked in tests:

1. **Window formulation** (`fact_media_engagement`, default) — fully
   native: the fold's state is lag-1 once tracking starts, so interval
   credit is a gated expression over ``lag``; everything else is one
   hash aggregate of struct-min/max. Exact when timestamps are
   strictly increasing within a group after tracking start (equal
   timestamps: the reference's anchor freezes while lag-1 does not —
   divergence bounded by the duplicate-ts credit, asserted ≈0 in
   tests).
2. **`applyInPandas` fold** (`fact_media_engagement_fold`) — the
   bit-exact sequential port, used as the oracle for (1) and for the
   golden tests. Arrow-batched; state never leaves a group.

Quirk resolution (SURVEY §2.6, engine defaults vs `legacy` flag):

- Q1: events carry no ``name`` in observed data; all ``name`` logic is
  null-safe (play_count falls back to "any progress → 1").
- Q2: ``percent_viewed`` is a 0-1 fraction, but the reference divides
  the delta by 100 again. Default: credit ``Δpct × duration``.
  ``legacy_percent_semantics=True`` reproduces ``Δpct/100 × duration``
  for byte-compat with the reference.
- The duration clamp precedes the cents rounding; the stored watch
  time is rounded so that it never exceeds the duration
  (``_watch_time_cents``: half-up alone would store 307.42 s watched
  of a 307.415 s video).

Determinism: per-group ordering is (received_at, event_key) — the
reference relied on file order (SURVEY §7 hard-part 2). The
first-non-null ip/country fallback is the sorted-first event, not the
unsorted-first (documented deviation; the reference's fallback order is
irreproducible by design).
"""

from __future__ import annotations

import datetime as dt
from decimal import ROUND_FLOOR, ROUND_HALF_UP, Decimal

import pandas as pd

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

FACT_OUTPUT_SCHEMA = (
    "media_id string, visitor_id string, date date, play_count bigint, "
    "total_watch_time double, max_percent_viewed double, play_rate double, "
    "event_timestamp timestamp, last_event_timestamp timestamp, "
    "ip string, country string, ingestion_timestamp timestamp"
)


def _valid_events(events: DataFrame) -> DataFrame:
    """P4 null-key filter (process_wistia_data_v2.py:374)."""
    return events.filter(
        F.col("media_id").isNotNull()
        & F.col("visitor_key").isNotNull()
        & F.col("received_at").isNotNull()
    )


def _with_duration(events: DataFrame, dim_media: DataFrame) -> DataFrame:
    """J1 broadcast duration lookup (process_wistia_data_v2.py:721-728)."""
    dur = dim_media.select("media_id", "duration")
    return events.join(F.broadcast(dur), "media_id", "left")


def _fold_input(events: DataFrame, dim_media: DataFrame) -> DataFrame:
    """The shared input projection of all THREE fact formulations
    (window, grouped-map fold, partition-scan fold): valid events +
    broadcast duration dim, one column set, one set of casts. A
    single copy so a schema tweak cannot silently split the
    pytest-pinned bit-equivalence between the formulations
    (review r05)."""
    return _with_duration(_valid_events(events), dim_media).select(
        "media_id",
        F.col("visitor_key").alias("visitor_id"),
        F.to_date("received_at").alias("date"),
        "received_at",
        "event_key",
        F.col("percent_viewed").cast("double").alias("pct"),
        F.col("name").alias("event_name"),
        "ip",
        "country",
        F.col("duration").cast("double").alias("duration"),
    )


def _watch_time_cents(wt, duration):
    """Stored ``total_watch_time``: HALF_UP cents, never above the
    duration. The clamp runs before the rounding, so a clamped value
    can round up past a duration with a third decimal of 5 or more
    (307.415 s → 307.42 s); such a value takes the duration rounded
    DOWN to cents instead (307.41 s). Both roundings are decimal over
    the double's shortest repr, like ``_round2``."""
    r = F.round(wt, 2)
    floor2 = F.floor(duration, F.lit(2)).cast("double")
    return F.when(r > duration, floor2).otherwise(r)


def fact_media_engagement(
    events: DataFrame,
    dim_media: DataFrame,
    run_ts: dt.datetime,
    legacy_percent_semantics: bool = False,
) -> DataFrame:
    """Window-native fact rollup (the 100 TB path).

    Plan shape: one shuffle on (media_id, visitor_key) for the window
    sort, then one hash aggregate on (media_id, visitor_key, date).
    The dim join is broadcast. No Python in the hot path.
    """
    e = _fold_input(events, dim_media)

    keys = ["media_id", "visitor_id", "date"]
    w_ord = W.partitionBy(*keys).orderBy("received_at", "event_key")
    w_all = w_ord.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)

    # tracking starts at the first event with progress or an explicit
    # play (null-safe on name — Q1). A null-pct row can neither start
    # tracking nor join the lag chain: the fold skips such rows
    # entirely, and (NULL | name=='play') would otherwise evaluate
    # true and start tracking one row early.
    is_start_candidate = F.col("pct").isNotNull() & (
        (F.col("pct") > 0) | (F.col("event_name") == "play")
    )
    start_marker = F.min(
        F.when(is_start_candidate, F.struct("received_at", "event_key"))
    ).over(w_all)
    cur_marker = F.struct("received_at", "event_key")

    e = e.withColumn("_start", start_marker)
    tracked = F.col("_start").isNotNull() & (cur_marker >= F.col("_start"))
    e = e.withColumn("_tracked", tracked)

    # lag-1 within the tracked suffix of each group; null-pct rows are
    # invisible to the credit chain (fold parity: isna → continue)
    t = e.filter(F.col("_tracked") & F.col("pct").isNotNull())
    prev_ts = F.lag("received_at").over(w_ord)
    prev_pct = F.lag("pct").over(w_ord)
    dt_s = (
        (F.unix_micros(F.col("received_at")) - F.unix_micros(prev_ts)).cast("double")
        / 1000000.0
    )
    dpct = F.col("pct") - prev_pct
    scale = (dpct / 100.0) if legacy_percent_semantics else dpct
    credit = F.when(
        prev_ts.isNotNull()
        & (dt_s > 0)
        & (F.col("pct") > prev_pct)
        & (F.col("duration").isNotNull())
        & (F.col("duration") > 0)
        & (~F.coalesce(F.col("event_name").isin("pause", "end"), F.lit(False))),
        F.least(dt_s, scale * F.col("duration")),
    ).otherwise(F.lit(0.0))
    t = t.select(*keys, credit.alias("credit")).groupBy(*keys).agg(
        F.sum("credit").alias("raw_watch_time")
    )

    first_truthy = lambda c: F.min(  # noqa: E731
        F.when(
            F.col(c).isNotNull() & (F.col(c) != ""),
            F.struct("received_at", "event_key", F.col(c).alias("v")),
        )
    )
    g = e.groupBy(*keys).agg(
        F.count(F.when(F.col("event_name") == "play", 1)).alias("n_play_events"),
        F.max(F.when(F.col("pct") > 0, True)).alias("any_progress"),
        F.max("pct").alias("max_percent_viewed"),
        F.min(F.struct("received_at", "event_key")).getField("received_at").alias(
            "event_timestamp"
        ),
        F.max("received_at").alias("last_event_timestamp"),
        first_truthy("ip").getField("v").alias("ip"),
        first_truthy("country").getField("v").alias("country"),
        F.first("duration").alias("duration"),
    )

    out = g.join(t, keys, "left").withColumn(
        "raw_watch_time", F.coalesce("raw_watch_time", F.lit(0.0))
    )
    play_count = F.when(F.col("n_play_events") > 0, F.col("n_play_events")).otherwise(
        F.when(F.coalesce(F.col("any_progress"), F.lit(False)), F.lit(1)).otherwise(
            F.lit(0)
        )
    )
    clamped = F.when(
        F.col("duration").isNotNull(),
        F.least(F.col("raw_watch_time"), F.col("duration")),
    ).otherwise(F.col("raw_watch_time"))
    out = (
        out.withColumn("play_count", play_count.cast("bigint"))
        .withColumn("_wt", F.when(F.col("play_count") > 0, clamped).otherwise(F.lit(0.0)))
        .withColumn(
            "total_watch_time", _watch_time_cents(F.col("_wt"), F.col("duration"))
        )
        .withColumn(
            "play_rate",
            F.when(
                (F.col("play_count") > 0)
                & (F.col("duration").isNotNull())
                & (F.col("duration") > 0)
                & (F.col("_wt") > 0),
                F.round(F.col("_wt") / F.col("duration"), 2),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("ingestion_timestamp", F.lit(run_ts).cast("timestamp"))
    )
    return out.select(
        "media_id",
        "visitor_id",
        "date",
        "play_count",
        "total_watch_time",
        "max_percent_viewed",
        "play_rate",
        "event_timestamp",
        "last_event_timestamp",
        "ip",
        "country",
        "ingestion_timestamp",
    )


# ---------------------------------------------------------------------------
# applyInPandas fold — bit-exact sequential oracle
# ---------------------------------------------------------------------------


def _round2(x: float) -> float:
    """HALF_UP 2-decimal rounding over the double's shortest repr —
    the same semantics as Spark's F.round on doubles. Python's built-in
    round() is half-to-even and diverges on exact halves (0.125 →
    0.12 vs 0.13)."""
    return float(
        Decimal(repr(float(x))).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
    )


def _watch_time_cents_py(total: float, duration: float | None) -> float:
    """``_watch_time_cents`` for the Python folds: ``_round2``, then a
    value above the duration takes the duration rounded DOWN to cents,
    in decimal over the shortest repr (a float floor(d*100)/100 would
    turn 0.29 into 0.28)."""
    r = _round2(total)
    if duration is not None and r > duration:
        return float(
            Decimal(repr(float(duration))).quantize(
                Decimal("0.01"), rounding=ROUND_FLOOR
            )
        )
    return r


def _fold_group(
    pdf: pd.DataFrame, run_ts: dt.datetime, legacy: bool
) -> dict:
    pdf = pdf.sort_values(["received_at", "event_key"], kind="mergesort")
    duration = pdf["duration"].iloc[0]
    has_duration = pd.notna(duration)
    duration = float(duration) if has_duration else None

    names = pdf["event_name"]
    pcts = pdf["pct"]
    n_play = int((names == "play").sum())
    any_progress = bool((pcts > 0).any())
    play_count = n_play if n_play > 0 else (1 if any_progress else 0)

    total = 0.0
    last_time = None
    last_pct = 0.0
    if has_duration and duration > 0:
        for ts, pct, name in zip(pdf["received_at"], pcts, names):
            if pd.isna(ts) or pd.isna(pct):
                continue
            pct = float(pct)
            if last_time is None and (pct > 0 or name == "play"):
                last_time = ts
                last_pct = pct
            elif last_time is not None:
                elapsed = (ts - last_time).total_seconds()
                if elapsed > 0 and pct > last_pct:
                    if name not in ("pause", "end"):
                        change = pct - last_pct
                        expected = (change / 100.0 if legacy else change) * duration
                        total += min(elapsed, expected)
                    last_pct = pct
                    last_time = ts
                elif pct > last_pct + 0.01:
                    last_pct = pct
                    last_time = ts
                elif elapsed > 0 and pct <= last_pct:
                    last_pct = pct
                    last_time = ts
    if has_duration:
        total = min(total, duration)

    play_rate = 0.0
    if has_duration and duration > 0 and total > 0:
        play_rate = _round2(total / duration)
    if play_count == 0:
        total = 0.0
        play_rate = 0.0

    ip = None
    country = None
    for i_, c_ in zip(pdf["ip"], pdf["country"]):
        if ip is None and isinstance(i_, str) and i_:
            ip = i_
        if country is None and isinstance(c_, str) and c_:
            country = c_
        if ip is not None and country is not None:
            break

    return {
        "media_id": pdf["media_id"].iloc[0],
        "visitor_id": pdf["visitor_id"].iloc[0],
        "date": pdf["date"].iloc[0],
        "play_count": play_count,
        "total_watch_time": _watch_time_cents_py(
            total, duration if has_duration else None
        ),
        # all-null pct must surface as NULL (window parity: F.max
        # skips nulls), never as NaN leaking out of pandas
        "max_percent_viewed": (
            float(pcts.max())
            if len(pcts) and pd.notna(pcts.max())
            else None
        ),
        "play_rate": play_rate,
        "event_timestamp": pdf["received_at"].iloc[0],
        "last_event_timestamp": pdf["received_at"].iloc[-1],
        "ip": ip,
        "country": country,
        "ingestion_timestamp": run_ts,
    }


def _fold_groups_arrays(
    pdf: pd.DataFrame,
    bounds,
    run_ts: dt.datetime,
    legacy: bool,
) -> pd.DataFrame:
    """Array fast path of the per-group fold for KEY-SORTED batches
    (the partition-scan formulation only): the same state-machine
    operation sequence as ``_fold_group``, executed over numpy arrays
    extracted ONCE per batch instead of a pandas slice per group.

    ``_fold_group``'s per-group cost is ~1.2 ms of pandas fixed
    overhead (a stable sort, ``.iloc`` frame construction, Series ops
    on 2-3 element groups) — at visitor-day grain that is ~50
    CPU-seconds per 100k events (measured, r11). This path drops it
    ~40× by never constructing a per-group object.

    Semantics notes (each pinned by the three-formulation equivalence
    tests and the driver oracle):

    - No per-group re-sort: the scan's exchange already sorted rows
      by (…, received_at, event_key), so ``_fold_group``'s stable
      mergesort is an identity there — and trusting the EXCHANGE's
      ordering is exactly what the window formulation's
      ``orderBy("received_at", "event_key")`` does, so the two
      formulations now share one ordering authority.
    - ``elapsed`` replicates ``Timedelta.total_seconds`` exactly: the
      integer tick delta divided (one correctly-rounded int/int true
      division) by the timestamp unit's per-second factor.
    - The output frame is assembled from the same row-dict list as
      before (same dtype inference, same None/NaN surface), only the
      dict VALUES come from arrays.
    """
    import numpy as np

    media = pdf["media_id"].to_numpy(dtype=object)
    visitor = pdf["visitor_id"].to_numpy(dtype=object)
    datev = pdf["date"].to_numpy(dtype=object)
    recv = pdf["received_at"].to_numpy()
    unit = np.datetime_data(recv.dtype)[0]
    div = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[unit]
    recv_i = recv.view("int64")
    recv_nat = np.isnat(recv)
    pct = pdf["pct"].to_numpy(dtype="float64")
    names = pdf["event_name"].to_numpy(dtype=object)
    ips = pdf["ip"].to_numpy(dtype=object)
    countries = pdf["country"].to_numpy(dtype=object)
    dur = pdf["duration"].to_numpy(dtype="float64")

    rows = []
    for a, b in zip(bounds[:-1], bounds[1:]):
        duration = float(dur[a])
        has_duration = duration == duration  # pd.notna on a float

        n_play = 0
        any_progress = False
        pmax = None
        for i in range(a, b):
            if names[i] == "play":
                n_play += 1
            p = pct[i]
            if p == p:  # not NaN — Series.max / (pcts > 0) skip NaN
                if p > 0:
                    any_progress = True
                if pmax is None or p > pmax:
                    pmax = float(p)
        play_count = n_play if n_play > 0 else (1 if any_progress else 0)

        total = 0.0
        last_i = -1
        last_pct = 0.0
        if has_duration and duration > 0:
            for i in range(a, b):
                if recv_nat[i] or pct[i] != pct[i]:
                    continue
                p = float(pct[i])
                if last_i < 0 and (p > 0 or names[i] == "play"):
                    last_i = i
                    last_pct = p
                elif last_i >= 0:
                    elapsed = (int(recv_i[i]) - int(recv_i[last_i])) / div
                    if elapsed > 0 and p > last_pct:
                        if names[i] not in ("pause", "end"):
                            change = p - last_pct
                            expected = (
                                change / 100.0 if legacy else change
                            ) * duration
                            total += min(elapsed, expected)
                        last_pct = p
                        last_i = i
                    elif p > last_pct + 0.01:
                        last_pct = p
                        last_i = i
                    elif elapsed > 0 and p <= last_pct:
                        last_pct = p
                        last_i = i
        if has_duration:
            total = min(total, duration)

        play_rate = 0.0
        if has_duration and duration > 0 and total > 0:
            play_rate = _round2(total / duration)
        if play_count == 0:
            total = 0.0
            play_rate = 0.0

        ip = None
        country = None
        for i in range(a, b):
            i_, c_ = ips[i], countries[i]
            if ip is None and isinstance(i_, str) and i_:
                ip = i_
            if country is None and isinstance(c_, str) and c_:
                country = c_
            if ip is not None and country is not None:
                break

        rows.append(
            {
                "media_id": media[a],
                "visitor_id": visitor[a],
                "date": datev[a],
                "play_count": play_count,
                "total_watch_time": _watch_time_cents_py(
                    total, duration if has_duration else None
                ),
                "max_percent_viewed": pmax,
                "play_rate": play_rate,
                "event_timestamp": pd.Timestamp(recv[a]),
                "last_event_timestamp": pd.Timestamp(recv[b - 1]),
                "ip": ip,
                "country": country,
                "ingestion_timestamp": run_ts,
            }
        )
    return pd.DataFrame(rows)


def fact_media_engagement_fold(
    events: DataFrame,
    dim_media: DataFrame,
    run_ts: dt.datetime,
    legacy_percent_semantics: bool = False,
) -> DataFrame:
    """Sequential-fold implementation via grouped-map applyInPandas.

    One Arrow batch per (media, visitor, date) group; the state machine
    is the reference's, verbatim in semantics. Used as the correctness
    oracle for the window formulation and for golden tests; also the
    fallback if a future semantics change stops being lag-1.
    """
    e = _fold_input(events, dim_media)

    legacy = legacy_percent_semantics

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame([_fold_group(pdf, run_ts, legacy)])

    return e.groupBy("media_id", "visitor_id", "date").applyInPandas(
        fold, FACT_OUTPUT_SCHEMA
    )


def fact_media_engagement_fold_scan(
    events: DataFrame,
    dim_media: DataFrame,
    run_ts: dt.datetime,
    legacy_percent_semantics: bool = False,
    dedup_event_rows: bool = False,
) -> DataFrame:
    """Partition-scan formulation of the sequential fold — identical
    semantics to ``fact_media_engagement_fold`` (pytest-pinned
    equivalence), restructured for group-count scale: grouped-map
    ``applyInPandas`` materializes ONE pandas DataFrame per group,
    which at visitor-day grain means billions of tiny Arrow slices —
    per-group conversion overhead dominates the fold itself ~10×.
    Here the plan is repartition-by-key + sortWithinPartitions + one
    ``mapInPandas`` pass that slices contiguous groups out of each
    Arrow batch, so conversion cost is per-BATCH while state still
    never crosses a group boundary (groups can span batches WITHIN a
    partition — a carry buffer stitches them; they cannot span
    partitions, the shuffle hashes the full group key).

    ``dedup_event_rows=True`` resolves duplicate ``(received_at,
    event_key)`` rows deterministically BEFORE the fold, keeping the
    ``(pct, event_name)``-least row, nulls last. It rides the fold's
    OWN exchange: rows sharing the duplicate key necessarily share
    the group key, so the existing repartition already co-locates
    them — the sort gains two tie-break columns and the scan drops
    repeats, zero extra shuffles (review r05: the first cut paid a
    second full window exchange for what is a no-op on unique-id
    corpora). Matches a SQL ``QUALIFY row_number() OVER (PARTITION BY
    key, received_at, event_key ORDER BY pct ASC NULLS LAST, name ASC
    NULLS LAST) = 1``.
    """
    e = _fold_input(events, dim_media)
    keys = ["media_id", "visitor_id", "date"]
    legacy = legacy_percent_semantics
    dedup_subset = [*keys, "received_at", "event_key"]

    def scan(batches):
        import numpy as np

        def key_codes(pdf: pd.DataFrame) -> np.ndarray:
            # group id per row; factorize keeps first-seen order, and
            # rows arrive key-sorted, so codes are non-decreasing
            return pd.MultiIndex.from_arrays(
                [pdf[k] for k in keys]
            ).factorize()[0]

        def fold_groups(pdf: pd.DataFrame, codes: np.ndarray) -> pd.DataFrame:
            starts = np.flatnonzero(np.r_[True, codes[1:] != codes[:-1]])
            bounds = np.r_[starts, len(pdf)]
            # array fast path: batches arrive key-sorted, so the
            # per-group pandas fold's stable re-sort is an identity —
            # see _fold_groups_arrays for the equivalence argument
            return _fold_groups_arrays(pdf, bounds, run_ts, legacy)

        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if dedup_event_rows and len(pdf):
                # rows arrive sorted (…, received_at, event_key, pct
                # nulls-last, name nulls-last), so keep-first == the
                # (pct, name)-least row; re-running over the carried
                # tail catches duplicate pairs split across batches
                pdf = pdf.drop_duplicates(
                    subset=dedup_subset, ignore_index=True
                )
            if not len(pdf):
                continue
            codes = key_codes(pdf)
            tail = int(np.flatnonzero(codes == codes[-1])[0])
            carry = pdf.iloc[tail:]
            if tail:
                yield fold_groups(pdf.iloc[:tail], codes[:tail])
        if carry is not None and len(carry):
            yield fold_groups(carry, key_codes(carry))

    # explicit partition count: a bare repartition(cols) exchange is
    # fair game for AQE coalescing, which at small SF collapses to ONE
    # partition and serializes the Python fold (see _scan.py)
    from ._scan import pinned_partitions

    n_part = pinned_partitions(events)
    sort_cols: list = [*keys, "received_at", "event_key"]
    if dedup_event_rows:
        # nulls-last pinned explicitly: Spark defaults asc nulls FIRST
        # while the SQL QUALIFY twin is NULLS LAST
        sort_cols += [
            F.col("pct").asc_nulls_last(),
            F.col("event_name").asc_nulls_last(),
        ]
    return (
        e.repartition(n_part, *[F.col(k) for k in keys])
        .sortWithinPartitions(*sort_cols)
        .mapInPandas(scan, FACT_OUTPUT_SCHEMA)
    )
