#!/usr/bin/env python3
"""Linkage benchmark entry point.

    python3 linkbench/run.py --workload <link-pages|link-clk-allpairs|dedup-pages>
        --seed <n> --seconds <s> --trace <0|1> [--size full|tiny]

Builds the program and the benchmark from source when needed (build.py),
then runs one benchmark JVM. Its last stdout line is the JSON result.
"""
import argparse
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

RUN_TIMEOUT_S = 170


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--size", default="full", choices=["full", "tiny"])
    a = ap.parse_args()

    # a terminated runner takes the JVM down with it: subprocess.run kills
    # and reaps its child when an exception interrupts the wait
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    build.build()
    cds = f"-XX:SharedArchiveFile={build.CDS}" if build.CDS.is_file() else ""
    cmd = build.java_cmd(["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", a.trace, "--size", a.size], cds)
    try:
        return subprocess.run(cmd, timeout=RUN_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        print(f"linkbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3


if __name__ == "__main__":
    sys.exit(main())
