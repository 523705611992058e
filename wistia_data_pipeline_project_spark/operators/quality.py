"""Data-quality expectations (the dbt-test / Great-Expectations-style
contract layer the reference lacks entirely — its only validation is
dropping rows with missing keys at transform time,
``/root/reference/process_wistia_data_v2.py:374``).

Each expectation is declarative and returns one report row
(name, passed, metric, threshold, n_rows); ``evaluate_expectations``
returns a suite's report rows to the driver, and ``run_expectations``
returns them as a DataFrame so the report can be persisted next to the
load (the audit trail a warehouse pipeline ships with).

Scale notes: ``not_null`` / ``accepted_values`` / ``bounds`` (conditional
counts), ``unique`` (a distinct-key count) and ``freshness`` (a max)
fold into ONE aggregate query over a single scan; ``references`` is a
broadcast-or-shuffle anti-join counting orphans. Nothing collects
row-level data to the driver — only the scalar metrics move.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    name: str
    kind: str
    params: dict = field(default_factory=dict)


def not_null(col: str, max_null_frac: float = 0.0) -> Expectation:
    """At most ``max_null_frac`` of rows may be NULL in ``col``."""
    return Expectation(
        f"not_null({col})", "not_null", {"col": col, "max": max_null_frac}
    )


def accepted_values(col: str, values: list) -> Expectation:
    """Every non-NULL value of ``col`` is in ``values``. An empty
    ``values`` list is rejected here, at suite-build time — deferring
    it would surface as an opaque ``isin()`` expression error mid-run
    (and "no value is acceptable" is almost always a caller bug)."""
    if not values:
        raise ValueError(
            f"accepted_values({col!r}): values list is empty — every "
            "non-NULL row would fail; pass the allowed values"
        )
    return Expectation(
        f"accepted_values({col})", "accepted_values", {"col": col, "values": values}
    )


def bounds(col: str, lo: float | None = None, hi: float | None = None) -> Expectation:
    """Every non-NULL value of ``col`` lies in [lo, hi] (either side
    optional)."""
    return Expectation(f"bounds({col})", "bounds", {"col": col, "lo": lo, "hi": hi})


def unique(cols: list[str] | str) -> Expectation:
    """``cols`` form a unique key (no duplicate combinations)."""
    cols = [cols] if isinstance(cols, str) else list(cols)
    return Expectation(f"unique({','.join(cols)})", "unique", {"cols": cols})


def references(col: str, dim: DataFrame, dim_key: str) -> Expectation:
    """Referential integrity: every non-NULL ``col`` exists in
    ``dim[dim_key]`` (no orphan facts)."""
    return Expectation(
        f"references({col}->{dim_key})",
        "references",
        {"col": col, "dim": dim, "dim_key": dim_key},
    )


def freshness(ts_col: str, as_of, max_lag_hours: float) -> Expectation:
    """Data freshness: ``max(ts_col)`` is within ``max_lag_hours`` of
    ``as_of`` (an explicit datetime — never wall-clock, so the check
    is deterministic and replayable; callers pass the scheduler's
    logical run time). Metric = observed lag in hours; an empty or
    all-NULL column fails (infinite lag), because "no data at all" is
    the staleness incident this check exists to page on."""
    return Expectation(
        f"freshness({ts_col})",
        "freshness",
        {"col": ts_col, "as_of": as_of, "max": float(max_lag_hours)},
    )


def _frac(cond: Column) -> Column:
    return F.sum(F.when(cond, 1).otherwise(0)).cast("double") / F.count(F.lit(1))


def evaluate_expectations(df: DataFrame, suite: list[Expectation]) -> list[tuple]:
    """Evaluate a suite; returns one (name, passed, metric, threshold,
    n_rows) tuple per expectation, IN SUITE ORDER (callers may zip the
    report against their suite). Every kind but ``references`` folds
    into ONE aggregate query over the input; each ``references`` adds
    one anti-join count.
    """
    n_rows = F.count(F.lit(1))

    # one shared aggregation: conditional counts for the per-row
    # predicates, the distinct-key count for unique, the max for
    # freshness
    agg_cols: list[Column] = []
    for e in suite:
        if e.kind == "not_null":
            agg_cols.append(_frac(F.col(e.params["col"]).isNull()))
        elif e.kind == "accepted_values":
            c = F.col(e.params["col"])
            agg_cols.append(_frac(c.isNotNull() & ~c.isin(*e.params["values"])))
        elif e.kind == "bounds":
            c = F.col(e.params["col"])
            lo, hi = e.params["lo"], e.params["hi"]
            bad = F.lit(False)
            if lo is not None:
                bad = bad | (c < F.lit(lo))
            if hi is not None:
                bad = bad | (c > F.lit(hi))
            agg_cols.append(_frac(c.isNotNull() & bad))
        elif e.kind == "unique":
            cols = e.params["cols"]
            nulls = [F.col(c).isNull() for c in cols]
            any_null = F.greatest(*nulls) if len(nulls) > 1 else nulls[0]
            agg_cols.append(F.count_distinct(*[F.col(c) for c in cols]))
            agg_cols.append(F.sum(F.when(any_null, 1).otherwise(0)))
        elif e.kind == "freshness":
            # the max as EPOCH MICROS, not a datetime: Spark renders a
            # collected TimestampType in the DRIVER's OS timezone as a
            # NAIVE datetime, so tz-normalizing it driver-side silently
            # skews the lag by the host's UTC offset on non-UTC hosts.
            # unix_micros is tz-unambiguous.
            agg_cols.append(F.max(F.unix_micros(F.col(e.params["col"]))))
    vals = df.agg(
        n_rows.alias("_n"), *[c.alias(f"_m{i}") for i, c in enumerate(agg_cols)]
    ).collect()[0]
    total = vals["_n"]

    report = []
    m = iter(vals[1:])
    for e in suite:
        if e.kind in ("not_null", "accepted_values", "bounds"):
            thresh = float(e.params["max"]) if e.kind == "not_null" else 0.0
            metric = float(next(m) or 0.0)
            report.append((e.name, metric <= thresh, metric, thresh, total))
        elif e.kind == "unique":
            distinct, nulls = next(m), next(m)
            # count_distinct skips NULL combos; compare against the
            # non-NULL row count so NULLs don't read as duplicates
            dupes = (total - (nulls or 0)) - distinct
            report.append((e.name, dupes == 0, float(dupes), 0.0, total))
        elif e.kind == "freshness":
            mx = next(m)
            as_of = e.params["as_of"]
            if mx is None:
                lag_h = float("inf")
            else:
                import datetime as _dt

                # a naive as_of is treated as UTC (the engine-wide
                # convention); an aware one converts exactly
                if getattr(as_of, "tzinfo", None) is None:
                    as_of = as_of.replace(tzinfo=_dt.timezone.utc)
                as_of_us = as_of.timestamp() * 1_000_000.0
                lag_h = (as_of_us - mx) / 3_600_000_000.0
            report.append(
                (e.name, lag_h <= e.params["max"], lag_h, e.params["max"], total)
            )
        elif e.kind == "references":
            col, dim, dim_key = (
                e.params["col"],
                e.params["dim"],
                e.params["dim_key"],
            )
            orphans = (
                df.select(F.col(col).alias("_k"))
                .filter(F.col("_k").isNotNull())
                .join(
                    dim.select(F.col(dim_key).alias("_k")).distinct(),
                    "_k",
                    "left_anti",
                )
                .count()
            )
            report.append((e.name, orphans == 0, float(orphans), 0.0, total))
    return report


def run_expectations(df: DataFrame, suite: list[Expectation]) -> DataFrame:
    """``evaluate_expectations`` as a DataFrame report (name, passed,
    metric, threshold, n_rows), so it can be persisted next to the
    load."""
    return df.sparkSession.createDataFrame(
        evaluate_expectations(df, suite),
        "name string, passed boolean, metric double, threshold double, n_rows long",
    )
