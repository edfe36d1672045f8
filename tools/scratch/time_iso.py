"""Isolated min-of-N timing for named bench queries (measure-first tool).

Usage: python tools/scratch/time_iso.py [-nN] [sf_dir] query [...]
Warms each query once at sf0.001, then times N passes at sf_dir
(default /root/testdata/sf0.1), printing each pass and the min.
Like ``bench.run_one``, it drains the invocation-scoped persists
(``cache_scope.drain``) after the warm-up and after each timed pass, so
no pass reads a cache an earlier one built.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from cassandra_pv_archiver_spark import cache_scope  # noqa: E402
from cassandra_pv_archiver_spark.session import get_spark  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    n = 3
    if args and args[0].startswith("-n"):
        n = int(args[0][2:])
        args = args[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    spark = get_spark("time-iso")
    spark.sparkContext.setLogLevel("ERROR")
    import bench
    from cassandra_pv_archiver_spark.registry import REGISTRY

    for name in args:
        fn = bench.SPECIAL.get(name) or REGISTRY[name][0]
        try:
            fn(spark, "/root/testdata/sf0.001").count()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: WARMUP FAILED: {e}")
            continue
        finally:
            cache_scope.drain()
        times = []
        for _ in range(n):
            t0 = time.time()
            fn(spark, sf_dir).count()
            times.append(time.time() - t0)
            cache_scope.drain()
        print(
            f"{name}: min={min(times):.3f}  "
            + " ".join(f"{t:.3f}" for t in times),
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
