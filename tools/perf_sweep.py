"""100x scale sweep for selected registry queries: warm timing at
sf0.001 / sf0.01 / sf0.1 in ONE Spark session, printing the PERF.md
table row material (min-of-two warm passes per cell, same discipline as
bench.py).

Usage: python tools/perf_sweep.py [--sf1[=path]] query [query ...]

``--sf1`` appends a fourth column from the 10x slice generated by
tools/gen_sf1.py (default /tmp/pvspark-sf1) — the one-decade-up
extension of the sweep. Bench-only materialize entries (bench.SPECIAL)
are accepted alongside registry queries.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cassandra_pv_archiver_spark.session import get_spark  # noqa: E402

SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


def main() -> int:
    args = sys.argv[1:]
    sf_dirs = list(SF_DIRS)
    extra = None
    names = []
    for a in args:
        if a.startswith("--sf1"):
            extra = a.split("=", 1)[1] if "=" in a else "/tmp/pvspark-sf1"
            sf_dirs.append(extra)
        else:
            names.append(a)
    if not names:
        print(__doc__)
        return 2
    from bench import run_one  # drains after each pass

    spark = get_spark("perf-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    hdr = "| query | sf0.001 | sf0.01 | sf0.1 |"
    sep = "|---|---|---|---|"
    if extra:
        hdr += " sf1 | 100x | 1000x |"
        sep += "---|---|---|"
    else:
        hdr += " 100x |"
        sep += "---|"
    print(hdr)
    print(sep)
    for name in names:
        cells = []
        for sf in sf_dirs:
            # pass 0 = warmup, min of the rest
            times = [run_one(spark, name, sf) for _ in range(3)]
            cells.append(min(times[1:]))
        r100 = cells[2] / cells[0] if cells[0] > 0 else float("nan")
        row = (
            f"| `{name}` | {cells[0]:.2f} s | {cells[1]:.2f} s"
            f" | {cells[2]:.2f} s |"
        )
        if extra:
            r1000 = cells[3] / cells[0] if cells[0] > 0 else float("nan")
            row += f" {cells[3]:.2f} s | {r100:.1f}x | {r1000:.1f}x |"
        else:
            row += f" {r100:.1f}x |"
        print(row)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
