"""Extra benchmarks for optimization work (guide §1.4 noop-sink isolation).

NOT the driver contract — bench.py is frozen for measurement. This harness
times an arbitrary subset of REGISTRY queries (noop sink, labelled jobs)
so individual optimizations can be measured in isolation, with optional
multiple reps and best-of reporting.

Usage:
  python bench_extra.py [--reps N] [query ...]     # default: all HEADLINE
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from web2llmstxt_spark.session import get_spark  # noqa: E402


def positive_int(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=positive_int, default=1)
    ap.add_argument("--out", default=None)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench_extra", cores=cores)

    from web2llmstxt_spark.plans.queries import REGISTRY

    names = args.queries or list(REGISTRY)
    # warm the JVM + parquet footers
    spark.sparkContext.setJobDescription("warmup")
    REGISTRY["pricing_summary"][0](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    runs: list[dict[str, float]] = []
    for rep in range(args.reps):
        timings: dict[str, float] = {}
        for name in names:
            build = REGISTRY[name][0]
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.time() - t0, 3)
        runs.append(timings)

    best = {k: min(r[k] for r in runs) for k in runs[0]}
    line = json.dumps({"queries": best, "reps": args.reps, "sum": round(sum(best.values()), 3)})
    print(line)
    if args.out:
        with open(args.out, "w", encoding="utf-8") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
