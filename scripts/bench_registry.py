"""Round-15 measurement harness: time ANY registry query at sf0.1 with
the bench methodology (noop sink, 1 warmup, median of N) WITHOUT
touching bench.py's driver contract.

Usage:
  python scripts/bench_registry.py [--runs N] [--out FILE] [query ...]

With no query names, times the whole registry EXCEPT the bench HEADLINE
set (those are bench.py's job). Writes a JSON map {name: {median, min,
max}} to --out (default scripts/registry_times_r15.json, merged with any
existing content so the sweep can run in slices).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, jvm_gc, materialize  # noqa: E402
from dwh_with_dask_spark.plans import QUERIES  # noqa: E402
from dwh_with_dask_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--out",
        default=os.path.join(os.path.dirname(__file__), "registry_times_r15.json"),
    )
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = args.queries or [q for q in QUERIES if q not in HEADLINE]
    spark = get_spark(app_name="bench_registry_r15")

    results: dict[str, dict] = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            results = json.load(f)

    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"registry:{name}")
        try:
            materialize(fn(spark, sf_dir))  # warmup
            spark.catalog.clearCache()
            jvm_gc(spark)
            runs = []
            for _ in range(args.runs):
                t0 = time.perf_counter()
                materialize(fn(spark, sf_dir))
                runs.append(time.perf_counter() - t0)
                spark.catalog.clearCache()
            results[name] = {
                "median": round(statistics.median(runs), 3),
                "min": round(min(runs), 3),
                "max": round(max(runs), 3),
            }
            print(f"{results[name]['median']:8.3f}s  {name}", flush=True)
        except Exception as e:  # noqa: BLE001 — sweep must survive one bad query
            results[name] = {"error": f"{type(e).__name__}: {e}"[:300]}
            print(f"   ERROR  {name}: {e}", flush=True)
        jvm_gc(spark)
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
