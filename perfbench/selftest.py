"""Smoke test of the benchmark itself on tiny inputs (sf0.001 star schema,
400 documents, 3 000 people rows).

    python3 perfbench/selftest.py [workload ...]

For each workload it runs the benchmark once untraced (three passes) and
once traced (four passes, two of them traced) and asserts that

* every end-to-end and every per-layer metric prints with its unit,
* no op failed its check (``failed == 0``),
* the counters of the two traced passes repeat exactly: input rows,
  shuffle bytes and ACID files rewritten. ``corpus_dedup`` (not in
  BENCHMARK.json) is held to input rows only: its iterative operators
  shuffled 3.6 MB in one pass and 5.1 MB in another of the same run, a
  variation whose cause is not pinned down.

Exit code 0 when every assertion holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ("lake_sql", "corpus_dedup", "lake_construct")
SHUFFLE_VARIES = {"corpus_dedup"}


def run(workload: str, trace: int, record: str) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
        "--size", "tiny", "--json-out", record,
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    units = PER_LAYER if trace else END_TO_END
    for name, unit in units.items():
        if f"{name} " not in out.stdout or f"({unit})" not in out.stdout:
            raise AssertionError(f"{workload}: metric {name} ({unit}) not printed")
        if result["metrics"].get(name, {}).get("unit") != unit:
            raise AssertionError(f"{workload}: metric {name} missing or without unit {unit}")
    if result["failed"] != 0 or not result["correct"]:
        raise AssertionError(f"{workload}: {result['failed']} of {result['attempted']} ops failed")
    with open(record) as fh:
        return json.load(fh)


def pass_counters(workload: str, p: dict) -> dict:
    ops = p["ops"]
    counters = {
        "input_rows": sum(o["counters"]["input_rows"] for o in ops),
        "shuffle_write_bytes": sum(o["counters"]["shuffle_write_bytes"] for o in ops),
        "acid_files_rewritten": p.get("acid", {}).get("files_rewritten"),
    }
    if workload in SHUFFLE_VARIES:
        del counters["shuffle_write_bytes"]
    return counters


def main(argv: list[str]) -> int:
    failures = []
    for workload in argv or WORKLOADS:
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_work")) as tmp:
            try:
                run(workload, 0, os.path.join(tmp, "plain.json"))
                rec = run(workload, 1, os.path.join(tmp, "traced.json"))
                traced = [pass_counters(workload, p) for p in rec["passes"] if p["traced"]]
                if len(traced) < 2 or any(c != traced[0] for c in traced[1:]):
                    raise AssertionError(f"{workload}: counters differ between traced passes: {traced}")
                print(f"ok   {workload}: counters repeat {traced[0]}")
            except (AssertionError, subprocess.TimeoutExpired) as e:
                failures.append(workload)
                print(f"FAIL {workload}: {e}")
    return 1 if failures else 0


if __name__ == "__main__":
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    sys.exit(main(sys.argv[1:]))
