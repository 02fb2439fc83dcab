"""Generate one seeded fresh-draw corpus for a benchmark run.

    python3 perfbench/gen.py --seed 7 --out DIR

Runs ``tools/freshdraw_sf1.materialize(seed, 1)`` (the 1x draw) into ``DIR``.  That
generator copies the two fixed TPC-H dimension tables (25 nations, 5
regions) from a source directory; they are written here first so the run
needs nothing outside its checkout.  Run as its own process so the
generator's arrays never count towards the benchmark's memory figures.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def write_dimensions(out: str) -> None:
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % len(REGIONS) for i in range(25)], pa.int32()),
    }), os.path.join(out, "nation.parquet"))
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": REGIONS,
    }), os.path.join(out, "region.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import freshdraw_sf1

    dims = args.out.rstrip("/") + "_dims"
    write_dimensions(dims)
    freshdraw_sf1.SRC = dims
    try:
        freshdraw_sf1.materialize(args.seed, 1, out=args.out)
    finally:
        shutil.rmtree(dims, ignore_errors=True)


if __name__ == "__main__":
    main()
