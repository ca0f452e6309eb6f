"""Box-health canary gating any bench-of-record run (VERDICT r12 #8).

Round 12 documented minutes-long exogenous degraded windows on this
box in which EVERY CPU-bound stage runs ~3x slower (ingest 130.8k ->
36.9k rows/s on an untouched code path; an 8-core bench run beating
the 32-core run 1.55x geomean). Two pure-CPU probes detect that
regime without Spark in the loop:

1. single-thread md5 throughput over 64 MiB (the degraded windows cut
   this ~3x; healthy floor on this box class is ~0.55 GB/s), and
2. the 16-way scaling ratio (sum of 16 concurrent single-thread
   scores / single-thread score; healthy is >= 8 on a 32-core box —
   a heavily stolen/oversubscribed window collapses it).

Exit 0 = healthy, 1 = degraded. Print a one-line JSON verdict either
way so artifacts can embed it. Thresholds are deliberately loose:
this is a 3x-regime detector, not a micro-benchmark.
"""

from __future__ import annotations

import hashlib
import json
import sys
import time
from concurrent.futures import ProcessPoolExecutor

SINGLE_THREAD_MIN_GBPS = 0.30
SCALING_MIN = 6.0
N_WORKERS = 16


def _md5_gbps(mib: int = 64) -> float:
    blob = b"\xa5" * (1 << 20)
    t = time.monotonic()
    h = hashlib.md5()
    for _ in range(mib):
        h.update(blob)
    dt = time.monotonic() - t
    return mib / 1024 / dt


def main() -> int:
    single = max(_md5_gbps(), _md5_gbps())  # best of 2: ignore one-off stalls
    with ProcessPoolExecutor(max_workers=N_WORKERS) as pool:
        concurrent = list(pool.map(_md5_gbps, [64] * N_WORKERS))
    scaling = sum(concurrent) / single
    healthy = single >= SINGLE_THREAD_MIN_GBPS and scaling >= SCALING_MIN
    print(
        json.dumps(
            {
                "healthy": healthy,
                "md5_single_gbps": round(single, 3),
                "md5_scaling_16way": round(scaling, 2),
                "thresholds": {
                    "md5_single_gbps_min": SINGLE_THREAD_MIN_GBPS,
                    "md5_scaling_16way_min": SCALING_MIN,
                },
            }
        )
    )
    return 0 if healthy else 1


if __name__ == "__main__":
    sys.exit(main())
