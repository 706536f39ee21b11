#!/usr/bin/env python
"""Parallel test runner (VERDICT r4 #3): the env has no pytest-xdist, so
this splits the test FILES into N buckets (greedy longest-processing-time
over measured serial costs) and runs N concurrent pytest processes.
Safe because tests/conftest.py gives every process its own SparkSession
JVM, warehouse dir, Derby system home, and pytest tmp tree; each worker's
driver memory is capped so N JVMs fit the box.

Usage:  python scripts/ptest.py [-n 4] [extra pytest args...]
Exit code is non-zero if any bucket fails. Target: full suite < 4 min
wall at -n 4 (serial: ~11 min).
"""

from __future__ import annotations

import argparse
import glob
import os
import subprocess
import sys
import time

# Approximate serial seconds per file (quiet box, local[8] fixture).
# Unlisted files default to 10. Update when a file's cost shifts an
# order of magnitude — balance only needs the right ballpark.
COSTS = {
    "test_properties.py": 480,  # r11: hypothesis over the maintained
    # chunk/ANN folds + identity allocation — many small Spark jobs
    "test_txnlog.py": 280,
    "test_plan_quality.py": 250,  # r11: registry-wide sweeps grew with
    # the registry (nested-loop sweep ~200 s alone)
    "test_oracle_parity.py": 320,  # every registered oracle at sf0.001
    "test_chunkbm25.py": 230,     # r11
    "test_generated_identity.py": 170,  # r11
    "test_column_mapping.py": 200,
    "test_ann.py": 140,
    "test_stream_annindex.py": 130,  # r11 CDF/DV legs
    "test_scaling_10x.py": 120,
    "test_driver_gate.py": 210,
    "test_retrieval.py": 90,
    "test_delta_interop.py": 310,  # r14 s5: compaction/ICT/v2 legs
    "test_replace_where.py": 290,  # r14 s5: race suite
    "test_advice_r14.py": 50,
    "test_partition_generated.py": 110,  # r12 partition-by-generated
    "test_advice_r12.py": 20,            # r12 advisor regressions
    "test_deletion_vectors.py": 75,  # r11 partitioned DVs
    "test_row_rewrite.py": 200,  # the row-level rewrite's model grid
    "test_scan_plan.py": 140,  # every reader x layout, plan-job probe
    "test_mv.py": 450,  # bucket-sharing parity grid (4 view kinds)
    "test_scale_paths.py": 60,
    "test_streaming.py": 45,
    "test_multimodal.py": 40,
    "test_pipeline.py": 30,
    "test_streaming_scd2.py": 25,
    "test_scd2_mixture.py": 16,
}


def buckets(files: list[str], n: int) -> list[list[str]]:
    slots: list[tuple[float, list[str]]] = [(0.0, []) for _ in range(n)]
    for f in sorted(files, key=lambda f: -COSTS.get(os.path.basename(f), 10)):
        slots.sort(key=lambda s: s[0])
        cost, bucket = slots[0]
        slots[0] = (cost + COSTS.get(os.path.basename(f), 10), bucket + [f])
    return [b for _, b in slots if b]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", type=int, default=4, help="worker processes")
    ap.add_argument("rest", nargs=argparse.REMAINDER,
                    help="extra pytest args")
    args = ap.parse_args()

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(root, "tests", "test_*.py")))
    env = dict(os.environ)
    # N concurrent driver JVMs: cap each so the sum fits the box
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "10g")
    # ptest runs the FULL tier (r15): plain `pytest tests/` runs the
    # fast default tier sized for the driver's serial verify window —
    # see tests/test_tiers.json and scripts/retier_tests.py
    env.setdefault("SPARK_GRAFT_FULL_TESTS", "1")

    t0 = time.time()
    procs = []
    for i, bucket in enumerate(buckets(files, args.n)):
        cmd = [sys.executable, "-m", "pytest", "-q", *bucket, *args.rest]
        log = os.path.join(root, f".ptest-{i}.log")
        fh = open(log, "w")
        procs.append((i, bucket, log, fh,
                      subprocess.Popen(cmd, cwd=root, env=env,
                                       stdout=fh, stderr=subprocess.STDOUT)))
    rc = 0
    for i, bucket, log, fh, p in procs:
        p.wait()
        fh.close()
        tail = open(log).read().strip().splitlines()
        status = tail[-1] if tail else "(no output)"
        names = ", ".join(os.path.basename(f) for f in bucket)
        print(f"[bucket {i}] rc={p.returncode} {status}\n  {names}")
        if p.returncode != 0:
            rc = p.returncode
            print(f"  full log: {log}")
    print(f"total wall: {time.time() - t0:.0f}s "
          f"({'OK' if rc == 0 else 'FAILURES'})")
    return rc


if __name__ == "__main__":
    sys.exit(main())
