"""Benchmark of the engine as it is used.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see README.md):

* ``elt_incremental``: ``run_incremental_pipeline`` over staged
  Wistia-shaped JSON: an initial load into an empty warehouse, one run
  per daily increment, then a replay of the last increment.
* ``catalog_llm``: a cold pass over dedup, similarity and text entries.
* ``catalog_star``: a cold pass over the TPC-H entries and the star-schema
  event entries.

One process, one Spark session on ``local[<cpus>]``. Inputs and the
DuckDB-computed expected results are made first by ``expected.py`` in a
child process (cached, not timed). A run then sets up the engine (the
timed set-up: engine import, JVM, session, warm-up), runs whole rounds
of its workload until ``--seconds`` of rounds have passed, checks every
output and prints one JSON line last. Every round after the first
starts a fresh Spark session on a fresh copy of the inputs, so it is as
cold as the first.

``--trace 1`` wraps the engine's public functions from here, reads
Spark's status store around every region and prints the per-layer
metrics instead of the end-to-end ones. A record of every run, with
its provenance and per-entry / per-step detail, is written under
``perfbench/.results/``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "wistia_data_pipeline_project_spark"
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, ".results")
DRIVER_MEMORY = "2g"

sys.path.insert(0, HERE)

import inputs  # noqa: E402
from entries import ENTRIES  # noqa: E402

WORKLOADS = ["elt_incremental", *ENTRIES]
# the catalog modules the listed entries are defined in
CATALOG_MODULES = ["catalog", "catalog_docs", "catalog_emb", "catalog_scalar", "catalog_tpch", "catalog_windows"]
RUN_KINDS = ["initial", "increment", "replay"]
INCREMENTAL_CALLS = [
    ("operators.incremental", "rollback_uncommitted"),
    ("operators.incremental", "read_fact_committed"),
    ("ckpt", "spill_checkpoint"),
    ("operators.incremental", "write_dim"),
    ("operators.incremental", "write_fact_append_atomic"),
]
CORRUPTIONS = ["value", "drop", "replay_append"]


def _identity(batches):
    yield from batches


# ============================================================ environment


def prepare_env() -> str:
    """Keep every file the run writes inside the checkout, and make the
    engine's own knobs take their defaults."""
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_") or k in ("SPARK_LOCAL_DIRS", "PYSPARK_SUBMIT_ARGS"):
            del os.environ[k]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return tmp


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def start_session(tmp: str):
    from wistia_data_pipeline_project_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=cpu_count(),
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
            # -XX:-UsePerfData: no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def restart(spark, tmp: str):
    """A new session in the same JVM, warmed up, for a cold round."""
    spark.stop()
    spark = start_session(tmp)
    warm_up(spark)
    return spark


def stop_engine(spark) -> None:
    """Stop the session, then the JVM, and wait until every process
    this run started has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(_process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def warm_up(spark) -> None:
    """JVM, codegen and the Python worker pool (every slot runs a task
    and forks its worker); runs no catalog entry and no pipeline step."""
    n = spark.sparkContext.defaultParallelism * 2
    spark.range(0, n, 1, n).write.format("noop").mode("overwrite").save()
    spark.range(0, n, 1, n).mapInPandas(_identity, "id long").write.format("noop").mode("overwrite").save()


def _process_tree() -> list[int]:
    """This process and all its descendants (the JVM, the Python
    worker daemon and its workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def peak_rss_mb() -> float:
    """Sum of VmHWM over the process tree."""
    total_kb = 0
    for pid in _process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """User plus system CPU of the process tree so far, including the
    children it has reaped (Python workers that exited)."""
    ticks = 0
    for pid in _process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def program_sha() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(base, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


# ================================================================ checks


def _normalize(df):
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == "float32":
            df[c] = df[c].astype("float64")
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return pd.DataFrame(df)


def compare_frames(got, want) -> list[str]:
    """Row count, column names and every value, order-insensitive."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    g, w = _normalize(got), _normalize(want)
    issues = []
    for c in g.columns:
        gv, wv = g[c], w[c]
        if gv.dtype != wv.dtype:
            issues.append(f"{c}: dtype {gv.dtype} != {wv.dtype}")
            continue
        eq = (gv == wv) | (gv.isna() & wv.isna())
        if not bool(eq.all()):
            j = int((~eq).to_numpy().nonzero()[0][0])
            issues.append(f"{c}: {int((~eq).sum())} values differ, e.g. {gv.iloc[j]!r} != {wv.iloc[j]!r}")
    return issues


def corrupt_frame(df, how: str):
    """Self-test hook: damage an observed output before it is checked."""
    df = df.copy()
    if how == "drop" and len(df):
        return df.iloc[:-1]
    if how == "value" and len(df):
        for c in df.columns:
            if df[c].dtype.kind in "if":
                df.loc[df.index[0], c] = df[c].iloc[0] + 1
                return df
        c = df.columns[0]
        df.loc[df.index[0], c] = "corrupted"
    return df


# =================================================================== ELT

FACT = "fact_media_engagement"
FACT_CHECKED = ["media_id", "visitor_id", "date", "play_count", "max_percent_viewed", "event_timestamp", "last_event_timestamp"]


def committed_files(out: str) -> set[str]:
    commits = os.path.join(out, FACT, "_commits")
    files: set[str] = set()
    if os.path.isdir(commits):
        for m in sorted(os.listdir(commits)):
            if m.endswith(".json"):
                with open(os.path.join(commits, m)) as fh:
                    files.update(json.load(fh)["files"])
    return files


def read_fact_rows(out: str, rel_files) -> "object":
    import duckdb
    import pandas as pd

    paths = [os.path.join(out, FACT, f) for f in sorted(rel_files)]
    if not paths:
        return pd.DataFrame(columns=FACT_CHECKED + ["total_watch_time", "play_rate"])
    lst = ", ".join(f"'{p}'" for p in paths)
    return duckdb.sql(
        f"SELECT media_id, visitor_id, CAST(date AS DATE) AS date, play_count, max_percent_viewed, "
        f"event_timestamp::TIMESTAMP AS event_timestamp, last_event_timestamp::TIMESTAMP AS last_event_timestamp, "
        f"total_watch_time, play_rate FROM read_parquet([{lst}], hive_partitioning = true)"
    ).df()


def count_parquet_rows(path: str) -> int:
    import duckdb

    return duckdb.sql(f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]


KNOWN_FAULT = "known fault, watch time rounded up past the duration"


def round2(x: float) -> float:
    """Half-up to cents, as the fact rounds watch time."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(float(x))).quantize(Decimal("0.01"), ROUND_HALF_UP))


def check_grains(rows, want, durations: dict[str, float]) -> tuple[list[str], list[str]]:
    """Exact grain values, plus the watch-time properties
    ``0 <= total_watch_time <= duration`` and ``play_rate`` within 0.01
    of ``total_watch_time / duration``.

    Returns (issues, known): ``known`` holds a breach of the duration
    bound by the known fault of ``operators/fact.py`` (it rounds watch
    time half-up to cents after clamping it to the duration, so a
    clamped value can exceed a three-decimal duration by up to 0.005).
    Either list fails the run; only ``issues`` make the output wrong."""
    issues = compare_frames(rows[FACT_CHECKED], want)
    known: list[str] = []
    for r in rows.itertuples(index=False):
        dur = durations.get(r.media_id)
        twt, rate = r.total_watch_time, r.play_rate
        where = f"{r.media_id}/{r.visitor_id}/{r.date}"
        if dur is not None and dur < twt <= round2(dur):
            if not known:
                known.append(f"{KNOWN_FAULT}: total_watch_time {twt} > duration {dur} for {where}")
        elif not twt >= 0 or (dur is not None and twt > dur):
            issues.append(f"total_watch_time {twt} outside [0, {dur}] for {where}")
            break
        if dur is None:
            if rate != 0:
                issues.append(f"play_rate {rate} without a duration for {r.media_id}")
                break
        elif abs(rate - twt / dur) > 0.01 + 1e-9:
            issues.append(f"play_rate {rate} vs {twt}/{dur} for {where}")
            break
    return issues, known


def elt_plan(meta: dict) -> list[tuple[str, int, int]]:
    """(kind, input run, schedule index) for every pipeline run."""
    n = len(meta["runs"])
    return [("initial" if k == 0 else "increment", k, k) for k in range(n)] + [("replay", n - 1, n)]


def run_elt_round(spark, data: str, exp: dict, rnd: int, tracer, corrupt: str | None) -> list[dict]:
    from wistia_data_pipeline_project_spark.operators.incremental import run_incremental_pipeline
    from wistia_data_pipeline_project_spark.sources import io as sio

    out = os.path.join(WORK, f"elt-r{rnd}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    meta = exp["meta"]
    n_runs = len(meta["runs"])
    with open(next(
        os.path.join(data, meta["runs"][0]["dir"], f)
        for f in os.listdir(os.path.join(data, meta["runs"][0]["dir"]))
        if f.startswith("all_media_metadata_")
    )) as fh:
        durations = {m["hashed_id"]: m["duration"] for m in json.load(fh)}
    ops = []
    for kind, src, sched in elt_plan(meta):
        run_dir = os.path.join(data, meta["runs"][src]["dir"])
        run_ts = inputs.elt_run_ts(sched, n_runs)
        before = committed_files(out)
        op = {"kind": kind, "name": f"{kind}-{sched}", "failed": False, "wrong": False, "known": False, "issues": []}
        gc.collect()  # the previous check's garbage is not collected inside the timed run
        try:
            c0, t0 = cpu_s(), time.perf_counter()
            if tracer is None:
                ev = sio.read_wistia_events_json(spark, sio.latest_run_files(run_dir, "events_"))
                md = sio.read_wistia_media_json(spark, sio.latest_run_files(run_dir, "all_media_metadata_"))
                counts = run_incremental_pipeline(spark, ev, md, out, run_ts)
            else:
                tracer.context = {"kind": kind, "op": op["name"]}
                with tracer.region("pipeline", "run_incremental_pipeline") as span:
                    with tracer.region("sources", "read_json", detail="jobs"):
                        ev = sio.read_wistia_events_json(spark, sio.latest_run_files(run_dir, "events_"))
                        md = sio.read_wistia_media_json(spark, sio.latest_run_files(run_dir, "all_media_metadata_"))
                    counts = run_incremental_pipeline(spark, ev, md, out, run_ts)
                op["spark"] = {k: v for k, v in span.items() if k.startswith("spark.")}
            op["s"] = time.perf_counter() - t0
            op["cpu_s"] = cpu_s() - c0
            op["counts"] = counts
        except Exception as exc:  # noqa: BLE001 - a failed run is counted, the round goes on
            op["s"] = time.perf_counter() - t0
            op["failed"] = True
            op["issues"].append(f"{type(exc).__name__}: {exc}"[:400])
            ops.append(op)
            continue
        if corrupt == "replay_append" and kind == "replay" and before:
            _plant_replay_append(out, sorted(before)[0])
        want = exp["runs"][src]
        after = committed_files(out)
        rows = read_fact_rows(out, after - before)
        if corrupt in ("value", "drop") and kind == "initial":
            rows = corrupt_frame(rows, corrupt)
        issues, known = [], []
        if kind == "replay":
            if after != before or len(rows) or counts.get("fact_appended") != 0:
                issues.append(f"replay appended {len(rows)} rows in {len(after - before)} files")
            last = exp["runs"][-1]
            expect_visitors, expect_media = last["dim_visitor"], last["dim_media"]
            union = read_fact_rows(out, after)
            issues += [f"union: {i}" for i in compare_frames(union[FACT_CHECKED], exp["one_shot"])]
        else:
            issues, known = check_grains(rows, want["grains"], durations)
            expect_visitors, expect_media = want["dim_visitor"], want["dim_media"]
            if counts.get("fact_appended") != len(want["grains"]):
                issues.append(f"fact_appended {counts.get('fact_appended')} != {len(want['grains'])}")
        if counts.get("contract_passed") != 1:
            issues.append(f"contract_passed = {counts.get('contract_passed')}")
        if counts.get("dim_visitor") != expect_visitors or count_parquet_rows(os.path.join(out, "dim_visitor")) != expect_visitors:
            issues.append(f"dim_visitor {counts.get('dim_visitor')} != {expect_visitors}")
        if counts.get("dim_media") != expect_media or count_parquet_rows(os.path.join(out, "dim_media")) != expect_media:
            issues.append(f"dim_media {counts.get('dim_media')} != {expect_media}")
        op["issues"] = issues + known
        op["wrong"] = bool(issues)
        op["known"] = bool(known) and not issues
        op["failed"] = bool(issues or known)
        ops.append(op)
    ops[-1]["warehouse_mb"] = warehouse_mb(out)
    return ops


def _plant_replay_append(out: str, rel: str) -> None:
    """Self-test hook: make the replay look as if it appended a file."""
    src = os.path.join(out, FACT, rel)
    dst = os.path.join(os.path.dirname(src), "zz-corrupt-" + os.path.basename(src))
    shutil.copyfile(src, dst)
    with open(os.path.join(out, FACT, "_commits", "zz-corrupt.json"), "w") as fh:
        json.dump({"run_id": "zz-corrupt", "files": [os.path.relpath(dst, os.path.join(out, FACT))]}, fh)


def warehouse_mb(out: str) -> float:
    total = sum(os.path.getsize(os.path.join(out, FACT, f)) for f in committed_files(out))
    for dim in ("dim_media", "dim_visitor"):
        d = os.path.join(out, dim)
        if os.path.isdir(d):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet"))
    return total / 1e6


# =============================================================== catalog


def run_catalog_round(spark, tables: str, exp: dict, names: list[str], rnd: int, tracer, corrupt: str | None) -> list[dict]:
    from wistia_data_pipeline_project_spark.plans import QUERIES

    data = os.path.join(WORK, f"tables-r{rnd}")
    shutil.rmtree(data, ignore_errors=True)
    shutil.copytree(tables, data)
    ops = []
    for i, name in enumerate(names):
        fn = QUERIES[name]
        module = fn.__wrapped__.__module__.rsplit(".", 1)[-1]
        op = {"kind": module, "name": name, "failed": False, "wrong": False, "known": False, "issues": []}
        gc.collect()  # the previous check's garbage is not collected inside the timed entry
        c0, t0 = cpu_s(), time.perf_counter()
        try:
            if tracer is None:
                df = fn(spark, data)
                t1 = time.perf_counter()
                pdf = df.toPandas()
            else:
                tracer.context = {"kind": module, "op": name}
                with tracer.region("plans.build", name) as b:
                    df = fn(spark, data)
                t1 = time.perf_counter()
                with tracer.region("plans.exec", name) as e:
                    pdf = df.toPandas()
                op["build"] = {k: v for k, v in b.items() if k.startswith("spark.")}
                op["exec"] = {k: v for k, v in e.items() if k.startswith("spark.")}
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - a failed entry is counted, the round goes on
            op["s"] = time.perf_counter() - t0
            op["failed"] = True
            op["issues"].append(f"{type(exc).__name__}: {exc}"[:400])
            ops.append(op)
            continue
        op.update(s=t2 - t0, build_s=t1 - t0, exec_s=t2 - t1, cpu_s=cpu_s() - c0, rows=len(pdf))
        if corrupt in ("value", "drop") and i == 0:
            pdf = corrupt_frame(pdf, corrupt)
        op["issues"] = compare_frames(pdf, exp[name])
        op["wrong"] = op["failed"] = bool(op["issues"])
        ops.append(op)
    return ops


# =============================================================== metrics


def per_layer_names() -> list[str]:
    from tracing import SPARK_METRICS

    names = ["session.start_s", "session.warmup_s", "memory.peak_rss_mb", "sources.load_table_calls", "sources.load_table_s", "sources.read_json_s"]
    names += ["round.wall_s", "plans.build_s", "plans.build_jobs", "plans.exec_s", "plans.query_p50_s"]
    for m in CATALOG_MODULES:
        names += [f"plans.{m}.build_s", f"plans.{m}.build_jobs", f"plans.{m}.exec_s"]
    for kind in RUN_KINDS:
        for layer, fn in INCREMENTAL_CALLS:
            names.append(f"{layer}.{fn}_s.{kind}")
        for m in ("pipeline_self_s", "pipeline_self_jobs", "jobs_per_run", "files_committed"):
            names.append(f"operators.incremental.{m}.{kind}")
    names += ["pipeline.initial_load_s", "pipeline.increment_s", "pipeline.noop_run_s", "pipeline.warehouse_mb"]
    names += SPARK_METRICS
    names += ["trace.self_s", "trace.overhead_share"]
    return names


def layer_units(name: str) -> str:
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_share"):
        return "ratio"
    return "count"


def layer_metrics(rounds, setup1: dict, tracer, rss: float) -> dict[str, float]:
    from tracing import SPARK_METRICS, sum_spans

    ops = [op for r in rounds for op in r]
    spans = tracer.spans
    m = {n: 0.0 for n in per_layer_names()}
    m["session.start_s"] = setup1["start_s"]
    m["session.warmup_s"] = setup1["warmup_s"]
    m["memory.peak_rss_mb"] = rss
    for s in spans:
        if s["layer"] == "sources" and s["name"] == "load_table":
            m["sources.load_table_calls"] += 1
            m["sources.load_table_s"] += s["wall_s"]
        elif s["layer"] == "sources" and s["name"] == "read_json":
            m["sources.read_json_s"] += s["wall_s"]
        elif s["layer"] in ("plans.build", "plans.exec"):
            step = "build" if s["layer"] == "plans.build" else "exec"
            m[f"plans.{step}_s"] += s["wall_s"]
            m[f"plans.{s['kind']}.{step}_s"] += s["wall_s"]
            if step == "build":
                m["plans.build_jobs"] += s["spark.jobs"]
                m[f"plans.{s['kind']}.build_jobs"] += s["spark.jobs"]
    top = [s for s in spans if s["layer"] in ("pipeline", "plans.build", "plans.exec")]
    m.update(sum_spans(top, SPARK_METRICS))
    for kind in RUN_KINDS:
        runs = [s for s in spans if s["layer"] == "pipeline" and s.get("kind") == kind]
        calls = [s for s in spans if s.get("kind") == kind and s["layer"] in ("operators.incremental", "ckpt")]
        for layer, fn in INCREMENTAL_CALLS:
            m[f"{layer}.{fn}_s.{kind}"] = sum(s["wall_s"] for s in calls if s["name"] == fn)
        reads = [s for s in spans if s.get("kind") == kind and s["layer"] == "sources"]
        inner = calls + reads
        m[f"operators.incremental.pipeline_self_s.{kind}"] = sum(s["wall_s"] for s in runs) - sum(s["wall_s"] for s in inner)
        m[f"operators.incremental.pipeline_self_jobs.{kind}"] = sum(s["spark.jobs"] for s in runs) - sum(s["spark.jobs"] for s in inner)
        m[f"operators.incremental.jobs_per_run.{kind}"] = sum(s["spark.jobs"] for s in runs) / len(runs) if runs else 0.0
        m[f"operators.incremental.files_committed.{kind}"] = sum(
            s.get("returned", 0) for s in calls if s["name"] == "write_fact_append_atomic"
        )
    m["round.wall_s"] = round_wall_s(rounds)
    m.update(pipeline_metrics(ops))
    queries = [op["s"] for op in ops if op["kind"] in CATALOG_MODULES]
    m["plans.query_p50_s"] = statistics.median(queries) if queries else 0.0
    measured = sum(op["s"] for op in ops)
    m["trace.self_s"] = tracer.self_s
    m["trace.overhead_share"] = tracer.self_s / measured if measured else 0.0
    return m


def pipeline_metrics(ops) -> dict[str, float]:
    def med(kind):
        v = [op["s"] for op in ops if op["kind"] == kind]
        return statistics.median(v) if v else 0.0

    wh = [op["warehouse_mb"] for op in ops if "warehouse_mb" in op]
    return {
        "pipeline.initial_load_s": med("initial"),
        "pipeline.increment_s": med("increment"),
        "pipeline.noop_run_s": med("replay"),
        "pipeline.warehouse_mb": statistics.median(wh) if wh else 0.0,
    }


def round_wall_s(rounds) -> float:
    return statistics.median(sum(op["s"] for op in r) for r in rounds)


def end_to_end(rounds, setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        # a failed op may have no CPU reading; it still ran, so count 0
        "round_cpu_s": statistics.median(sum(op.get("cpu_s", 0.0) for op in r) for r in rounds),
    }


E2E_UNITS = {"setup_s": "s", "round_cpu_s": "s"}


def host_cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat (steal is field 8)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


# ================================================================== main


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="ELT input size factor (self-test uses < 1)")
    ap.add_argument("--sf", default="0.01", choices=["0.01", "0.001"], help="catalog data set (self-test uses 0.001)")
    ap.add_argument("--corrupt", choices=CORRUPTIONS, help="self-test only: damage one observed output")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    a = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "operators", "incremental.py")):
        print(f"perfbench: the engine package {PACKAGE}/ is not beside perfbench/", file=sys.stderr)
        return 2
    names = ENTRIES.get(a.workload, [])
    # inputs and expected results: made once by a child process and
    # cached; the engine is first imported inside the timed set-up
    data, exp_path = inputs.expected_path(a.workload, a.seed, a.scale, a.sf, names)
    if not os.path.exists(exp_path):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "expected.py"), "--workload", a.workload,
             "--seed", str(a.seed), "--scale", str(a.scale), "--sf", a.sf],
            check=True, stdout=subprocess.DEVNULL, timeout=170,
        )
    sys.path.insert(0, ROOT)
    import pickle

    with open(exp_path, "rb") as fh:
        exp = pickle.load(fh)
    tmp = prepare_env()

    # ---- set-up 1: engine import, JVM, session, warm-up
    t0 = time.perf_counter()
    import wistia_data_pipeline_project_spark.plans  # noqa: F401  (registers the catalog)

    spark = start_session(tmp)
    t1 = time.perf_counter()
    warm_up(spark)
    t2 = time.perf_counter()
    setup1 = {"start_s": t1 - t0, "warmup_s": t2 - t1}

    tracer = None
    if a.trace:
        tracer = install_tracer(spark, a.workload)

    rounds: list[list[dict]] = []
    measured = 0.0
    ticks0 = host_cpu_ticks()
    try:
        while not rounds or measured < a.seconds:
            if rounds:  # a cold round: fresh session, fresh copy of the inputs
                spark = restart(spark, tmp)
                if tracer is not None:
                    tracer = install_tracer(spark, a.workload, tracer)
            rnd = len(rounds)
            if a.workload == "elt_incremental":
                ops = run_elt_round(spark, data, exp, rnd, tracer, a.corrupt)
            else:
                ops = run_catalog_round(spark, data, exp, names, rnd, tracer, a.corrupt)
            rounds.append(ops)
            measured += sum(op["s"] for op in ops)
        ticks = [b - a_ for a_, b in zip(ticks0, host_cpu_ticks())]
        rss = peak_rss_mb()
        spark_version = spark.version
    finally:
        stop_engine(spark)
        shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)

    ops = [op for r in rounds for op in r]
    attempted = len(ops)
    failed = sum(op["failed"] for op in ops)
    # a run failed only by the known fault still produced correct outputs
    correct = not any(op["wrong"] for op in ops)
    if a.trace:
        values = layer_metrics(rounds, setup1, tracer, rss)
        metrics = {k: {"value": v, "unit": layer_units(k)} for k, v in values.items()}
    else:
        values = end_to_end(rounds, t2 - t0)
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    provenance = {
        "workload": a.workload,
        "seed": a.seed,
        "trace": a.trace,
        "seconds": a.seconds,
        "scale": a.scale,
        "catalog_sf": a.sf if names else None,
        "git_sha": git_sha(),
        "program_sha256": program_sha(),
        "cpus": cpu_count(),
        "spark_version": spark_version,
        "driver_memory": DRIVER_MEMORY,
        "entry_order": names,
        "rounds": len(rounds),
        "round_wall_s": round_wall_s(rounds),
        # share of the machine's CPU time taken by its hypervisor while the
        # rounds ran: wall times of runs with a high share are inflated
        "host_steal_share": ticks[7] / max(1, sum(ticks)),
        "setup_s": t2 - t0,
        "setup1": setup1,
        "known_fault_ops": sum(op["known"] for op in ops),
        "peak_rss_mb": rss,
        "time_utc": dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds"),
    }
    record = {"provenance": provenance, "metrics": values, "rounds": rounds}
    if a.trace:
        record["spans"] = tracer.spans
        record["overhead_vs_untraced"] = overhead_vs_untraced(a, rounds)
        provenance["overhead_vs_untraced"] = record["overhead_vs_untraced"]
    else:
        record["pipeline"] = pipeline_metrics(ops)
    os.makedirs(RESULTS, exist_ok=True)
    suffix = f"-{a.corrupt}" if a.corrupt else ""
    with open(os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-trace{a.trace}{suffix}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for op in ops:
        if op["failed"]:
            print(f"perfbench: {op['name']} failed: {op['issues'][:3]}", file=sys.stderr)
    print(json.dumps({"provenance": provenance}, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def install_tracer(spark, workload: str, previous=None):
    """Wrap the engine's public functions for this workload; a new
    session keeps the spans already recorded."""
    import importlib

    from tracing import Tracer, unwrap_all

    unwrap_all(PACKAGE)
    tracer = Tracer(spark)
    if previous is not None:
        tracer.spans, tracer.self_s = previous.spans, previous.self_s
    if workload == "elt_incremental":
        inc = importlib.import_module(f"{PACKAGE}.operators.incremental")
        for layer, fn in INCREMENTAL_CALLS:
            tracer.wrap(inc, fn, layer)
    else:
        from wistia_data_pipeline_project_spark.sources.io import load_table

        tracer.wrap_everywhere(load_table, "sources", PACKAGE)
    return tracer


def overhead_vs_untraced(a, rounds) -> dict | None:
    """Traced round time against the untraced run of the same workload
    and seed, when that run's record is in the results directory."""
    path = os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-trace0.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        base = json.load(fh)["provenance"]["round_wall_s"]
    traced = round_wall_s(rounds)
    return {"untraced_round_wall_s": base, "traced_round_wall_s": traced, "share": traced / base - 1.0}


if __name__ == "__main__":
    raise SystemExit(main())
