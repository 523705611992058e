"""Expected results, recomputed with DuckDB only.

    python3 perfbench/expected.py --workload <name> --seed <n> [--scale <x>] [--sf <sf>]

makes the workload's inputs (``inputs.py``) if they are not cached yet,
then writes ``expected-<workload>.pkl`` under ``perfbench/.cache/``:

* ``elt_incremental``: per scheduled run, the fact grains a correct
  pipeline appends (distinct ``(media_id, visitor_key, date)`` over the
  deduplicated, non-null-key events past the high-water mark, with
  ``play_count``, ``max_percent_viewed``, ``event_timestamp`` and
  ``last_event_timestamp``), the ``dim_visitor`` and ``dim_media`` row
  counts, and the one-shot result over every staged event.
  Read straight from the staged JSON; the engine is not involved.
* ``catalog_*``: each listed entry's registered oracle SQL, run by
  DuckDB over the shipped driver tables at ``--sf``. The seed does not
  enter: these are made once and reused by every run.

The ELT result is cached beside the staged inputs, once per seed; a
catalog's result under a key of the scale factor, the entry list and
the source of the engine's ``plans`` package, where the oracle SQL
lives (``inputs.expected_path``).
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
from entries import ENTRIES  # noqa: E402

EVENT_COLUMNS = {
    "received_at": "TIMESTAMP",
    "event_key": "VARCHAR",
    "percent_viewed": "DOUBLE",
    "visitor_key": "VARCHAR",
    "media_id": "VARCHAR",
    "name": "VARCHAR",
}
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _read_events(con, run_dir: str) -> None:
    cols = ", ".join(f"{k}: '{v}'" for k, v in EVENT_COLUMNS.items())
    con.sql("DROP TABLE IF EXISTS ev")
    con.sql(
        f"CREATE TABLE ev AS SELECT * FROM read_json('{run_dir}/events_*.json', "
        f"format='array', columns={{{cols}}})"
    )


_GRAINS_SQL = """
SELECT media_id, visitor_key AS visitor_id, CAST(received_at AS DATE) AS date,
       CASE WHEN count(*) FILTER (WHERE name = 'play') > 0
            THEN count(*) FILTER (WHERE name = 'play')
            WHEN bool_or(percent_viewed > 0) THEN 1 ELSE 0 END AS play_count,
       max(percent_viewed) AS max_percent_viewed,
       min(received_at) AS event_timestamp,
       max(received_at) AS last_event_timestamp
FROM {src}
WHERE media_id IS NOT NULL AND visitor_key IS NOT NULL
GROUP BY ALL
ORDER BY media_id, visitor_id, date
"""


def elt_expected(elt_dir: str) -> dict:
    with open(os.path.join(elt_dir, "meta.json")) as fh:
        meta = json.load(fh)
    con = duckdb.connect()
    con.sql("CREATE TABLE seen_visitors (visitor_key VARCHAR)")
    con.sql("CREATE TABLE ingested (received_at TIMESTAMP)")
    con.sql(
        "CREATE TABLE everything (received_at TIMESTAMP, event_key VARCHAR, percent_viewed DOUBLE, "
        "visitor_key VARCHAR, media_id VARCHAR, name VARCHAR)"
    )
    runs = []
    for run in meta["runs"]:
        _read_events(con, os.path.join(elt_dir, run["dir"]))
        con.sql("INSERT INTO everything SELECT * FROM ev")
        hwm = con.sql("SELECT max(received_at) FROM ingested").fetchone()[0]
        cut = "true" if hwm is None else f"received_at > TIMESTAMP '{hwm}'"
        con.sql("DROP TABLE IF EXISTS inc")
        con.sql(
            f"CREATE TABLE inc AS SELECT * FROM ev WHERE {cut} "
            "QUALIFY row_number() OVER (PARTITION BY event_key ORDER BY received_at) = 1"
        )
        grains = con.sql(_GRAINS_SQL.format(src="inc")).df()
        con.sql(
            "INSERT INTO ingested SELECT received_at FROM inc "
            "WHERE media_id IS NOT NULL AND visitor_key IS NOT NULL"
        )
        con.sql("INSERT INTO seen_visitors SELECT DISTINCT visitor_key FROM inc WHERE visitor_key IS NOT NULL")
        runs.append(
            {
                "grains": grains,
                "dim_visitor": con.sql("SELECT count(DISTINCT visitor_key) FROM seen_visitors").fetchone()[0],
                "dim_media": meta["media"],
            }
        )
    one_shot = con.sql(
        _GRAINS_SQL.format(
            src="(SELECT * FROM everything QUALIFY row_number() OVER "
            "(PARTITION BY event_key ORDER BY received_at) = 1)"
        )
    ).df()
    return {"runs": runs, "one_shot": one_shot, "meta": meta}


def catalog_expected(data_dir: str, names: list[str]) -> dict[str, pd.DataFrame]:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from wistia_data_pipeline_project_spark.plans import ORACLE

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return {n: con.sql(ORACLE[n]).df() for n in names}


def ensure(workload: str, seed: int, scale: float = 1.0, sf: str = "0.01") -> tuple[str, str]:
    """Inputs directory and expected-results file of a run."""
    names = ENTRIES.get(workload, [])
    data, out = inputs.expected_path(workload, seed, scale, sf, names)
    if not os.path.exists(out):
        if workload == "elt_incremental":
            result = elt_expected(inputs.make_elt(seed, scale))
        else:
            result = catalog_expected(data, names)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tmp = f"{out}.tmp{os.getpid()}"
        with open(tmp, "wb") as fh:
            pickle.dump(result, fh)
        os.replace(tmp, out)
    return data, out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["elt_incremental", *ENTRIES])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0, help="ELT input size factor")
    ap.add_argument("--sf", default="0.01", choices=["0.01", "0.001"], help="catalog data set")
    a = ap.parse_args()
    data, out = ensure(a.workload, a.seed, a.scale, a.sf)
    print(out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
