"""Self-test of the benchmark harness at a tiny size.

    python3 perfbench/selftest.py

Runs every workload end to end on small inputs (the sf0.001 driver
tables, about 1,400 staged ELT events), traced and untraced, and
requires every operation to pass except those the known fault of
``operators/fact.py`` fails (the ELT initial load and increment), with
``correct: true``. One traced run is given enough ``--seconds`` for two
cold rounds. Then it damages one observed output per run (a changed
value, a dropped row, a replay that appends) and requires the run to
count a failed operation and report ``correct: false``. Exits 0 when
every case holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SEED = 7
TINY = ["--scale", "0.25", "--sf", "0.001"]

CASES = [
    # (workload, trace, corruption)
    ("elt_incremental", 0, None),
    ("elt_incremental", 1, None),
    ("catalog_llm", 0, None),
    ("catalog_star", 1, None),
    ("catalog_star", 0, "value"),
    ("elt_incremental", 0, "drop"),
    ("elt_incremental", 0, "replay_append"),
]


def run_case(workload: str, trace: int, corrupt: str | None, seconds: float = 1.0) -> tuple[dict, dict]:
    """(provenance, result) of one run."""
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(SEED),
        "--seconds", f"{seconds:.3f}", "--trace", str(trace), *TINY,
    ]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        raise RuntimeError(f"{cmd} exited {out.returncode}: {out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["provenance"], json.loads(lines[-1])


def report(label: str, prov: dict, res: dict, ok: bool) -> bool:
    print(
        f"{'ok  ' if ok else 'FAIL'} {label:52s} rounds={prov['rounds']} attempted={res['attempted']} "
        f"failed={res['failed']} known={prov['known_fault_ops']} correct={res['correct']}"
    )
    return ok


def main() -> int:
    bad = 0
    round_wall = {}
    for workload, trace, corrupt in CASES:
        prov, res = run_case(workload, trace, corrupt)
        round_wall[workload, trace] = prov["round_wall_s"]
        if corrupt:
            ok = res["failed"] > 0 and not res["correct"]
        else:
            ok = res["correct"] and res["failed"] == prov["known_fault_ops"]
        ok = ok and res["attempted"] > 0 and bool(res["metrics"])
        bad += not report(f"{workload} trace={trace} corrupt={corrupt or '-'}", prov, res, ok)
    # twice the untraced round time: a second cold round (fresh session,
    # fresh copy of the tables, tracer carried over) has to run
    seconds = 2.0 * round_wall["catalog_llm", 0]
    prov, res = run_case("catalog_llm", 1, None, seconds)
    ok = prov["rounds"] >= 2 and res["correct"] and res["failed"] == 0
    ok = ok and res["attempted"] == prov["rounds"] * len(prov["entry_order"])
    bad += not report(f"catalog_llm trace=1 seconds={seconds:.1f}", prov, res, ok)
    print("self-test passed" if not bad else f"self-test: {bad} case(s) failed")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
