"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json once untraced and once traced with a
one-second window and checks the last output line: exactly the keys
correct/attempted/failed/metrics, every check passed, and exactly the
end-to-end (untraced) or per-layer (traced) metric names of BENCHMARK.json
with their units. Also checks that the command refuses to run, without
printing a result, in a directory holding only BENCHMARK.json and the
benchmark's own files. Exit code 0 when all of that holds.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
SEED = 7


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def check_output(spec: dict, workload: str, trace: int, proc: subprocess.CompletedProcess) -> list[str]:
    where = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{where}: exit code {proc.returncode}\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    bad = []
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        bad.append(f"{where}: keys {sorted(out)}")
    if out["correct"] is not True or out["failed"] != 0 or out["attempted"] < 1:
        bad.append(f"{where}: correct={out['correct']} failed={out['failed']} attempted={out['attempted']}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    if got != want:
        bad.append(f"{where}: metric names/units differ: missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
    for k, v in out["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            bad.append(f"{where}: {k} is not a number")
    if not trace:
        zero = [k for k, v in out["metrics"].items() if v["value"] <= 0]
        if zero:
            bad.append(f"{where}: end-to-end metrics not positive: {zero}")
    return bad


def check_bare_directory(spec: dict) -> list[str]:
    """Only BENCHMARK.json and the benchmark's paths: no engine to measure."""
    bare = BENCH_DIR / ".work" / "smoke-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in spec["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns(".cache", ".work", "__pycache__"))
    try:
        proc = _run(bare, spec["workloads"][0]["name"], 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or '"metrics"' in proc.stdout:
        return ["bare directory: the command printed a result or exited 0"]
    return []


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bad = check_bare_directory(spec)
    for w in spec["workloads"]:
        for trace in (0, 1):
            proc = _run(ROOT, w["name"], trace)
            errs = check_output(spec, w["name"], trace, proc)
            print(f"{'FAIL' if errs else 'ok  '} {w['name']} trace={trace}", flush=True)
            bad += errs
    for b in bad:
        print(b)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
