#!/usr/bin/env python3
"""Tiny-input self-check of the linkage benchmark.

Runs every workload named in BENCHMARK.json at the `tiny` size (a few
hundred records) with --trace 0 and --trace 1, and asserts that each run
exits 0 and prints a result line whose checks all passed and which carries
every metric BENCHMARK.json names, with its unit. Then checks that the
benchmark fails cleanly, printing no result, in a directory that holds only
BENCHMARK.json and the benchmark's own files.

    python3 linkbench/selfcheck.py
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(root: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "linkbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=root, capture_output=True, text=True, timeout=900)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    errors = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            label = f"{w['name']} --trace {trace}"
            p = run(ROOT, w["name"], trace)
            if p.returncode != 0:
                errors.append(f"{label}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                errors.append(f"{label}: result keys {sorted(res)}")
            if not (res.get("correct") is True and res.get("failed") == 0 and res.get("attempted", 0) >= 1):
                errors.append(f"{label}: checks failed: correct={res.get('correct')} "
                              f"attempted={res.get('attempted')} failed={res.get('failed')}")
            got = res.get("metrics", {})
            want = {m["name"]: m["unit"] for m in spec[key]}
            if set(got) != set(want):
                errors.append(f"{label}: missing {sorted(set(want) - set(got))}, "
                              f"unexpected {sorted(set(got) - set(want))}")
            for name, unit in want.items():
                m = got.get(name)
                if m is not None and (m.get("unit") != unit or not isinstance(m.get("value"), (int, float))):
                    errors.append(f"{label}: {name} = {m}, want a number in {unit}")
            print(f"ok  {label}: {res['attempted']} runs", file=sys.stderr)

    bare = ROOT / ".bench_build" / "selfcheck-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for d in spec["paths"]:
        shutil.copytree(ROOT / d, bare / d, ignore=shutil.ignore_patterns("__pycache__"))
    p = run(bare, spec["workloads"][0]["name"], 0)
    if p.returncode == 0 or p.stdout.strip():
        errors.append(f"bare directory: exit {p.returncode}, stdout {p.stdout[-300:]!r}")
    else:
        print("ok  bare directory fails without a result", file=sys.stderr)
    shutil.rmtree(bare, ignore_errors=True)

    for e in errors:
        print("FAIL " + e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
