"""Crawl-and-distill benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload site_llmstxt --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout of the repository, at ``local[<cores>]``
(every core this process may use). Set-up (Spark session, Python-worker
spawn, seeded input generation) happens before the clock. The workload then
repeats for about ``--seconds`` (at least once), every output is checked
against an independent reference after the clock stops, and the last line
of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark event log and the benchmark's spans and reports the per-layer metrics
instead (see perfbench/README.md). Everything the run writes stays under
``.perfbench_work/`` (deleted at exit) and ``.perfbench_out/`` (traces and
the last untraced wall time per workload and seed).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: (name, unit) of every end-to-end metric, reported by ``--trace 0``
END_TO_END = [
    ("throughput_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
    ("setup_s", "s"),
]

#: (name, unit) of every per-layer metric, reported by ``--trace 1``;
#: a layer that does no work on a workload reports 0
PER_LAYER = (
    [("trace.op_s", "s"), ("jvm.gc_s", "s")]
    + [(f"frontier.{k}", "s") for k in ("depth0_s", "attempt_s", "state_s", "finalize_s")]
    + [("frontier.supersteps", "count"), ("frontier.attempted", "count"),
       ("frontier.kept_ratio", "ratio")]
    + [
        (f"frontier.{phase}.{k}", unit)
        for phase in ("d0", "attempt", "state", "finalize")
        for k, unit in (("jobs", "count"), ("util", "ratio"),
                        ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("gc_s", "s"))
    ]
    + [("bloom.rebuilds", "count"), ("bloom.deltas", "count"), ("bloom.m_bits", "bits")]
    + [("checkpoint.bytes_written_mb", "MB"), ("checkpoint.resume_load_s", "s"),
       ("checkpoint.resume_s", "s")]
    + [("fetch.scan_input_mb", "MB")]
    + [("distill.s", "s"), ("distill.jobs", "count")]
    + [("sinks.s", "s"), ("sinks.driver_rows", "count"), ("sinks.bytes_out_mb", "MB")]
    + [(f"curate.{k}_s", "s") for k in
       ("input", "repetition", "decontam", "pii", "substring", "dedup", "pack")]
    + [(f"curate.{k}", "count") for k in
       ("in_docs", "dropped_repetition", "dropped_contaminated", "tokens_removed",
        "dedup_removed", "kept_docs", "pack_bins")]
)

#: set-up input generation is repeated this many times; its median counts
SETUP_REPS = 3
DRIVER_MEM = "2g"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["bfs_crawl", "site_llmstxt", "corpus_curate"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] (default: every core this process may use)")
    return p.parse_args(argv)


def isolate(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and the workers write inside ``work``
    and pin the session shape (local mode, heap, event log on/off)."""
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    if trace:
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = json.dumps({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
        })
    else:
        os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)


def spawn_workers(spark, cores: int) -> None:
    """One pass of every pandas UDF the crawl and distill use, over 2 x
    cores partitions, so a Python worker is forked and imported on every
    core before the clock (the warm-up of scripts/scaling_run.py)."""
    import pyspark.sql.functions as F

    from web2llmstxt_spark.functions import native, udfs

    src = spark.range(0, 64 * 64).select(
        F.concat(F.lit("https://bh0.example/docs/x-"), F.col("id")).alias("url"),
        F.lit("T | BH0").alias("title"),
        F.array(F.struct(
            F.lit("text").alias("kind"), F.lit("warm words").alias("text"),
            F.lit("").alias("media_ref"), F.lit(0).cast("int").alias("offset"),
        )).alias("spans"),
        F.array(F.lit("/docs/a-1"), F.lit("#top")).alias("out_links"),
    )
    src.repartition(cores * 2).select(
        udfs.normalize_url_udf("url").alias("u"),
        native.score_url_native(F.col("url"), F.lit("https://bh0.example")).alias("s"),
        udfs.extract_links_udf("out_links", F.lit("https://bh0.example"),
                               F.lit("bh0.example")).alias("l"),
        udfs.extract_title_udf(F.col("title"), udfs.spans_to_content(F.col("spans")),
                               F.col("url")).alias("t"),
    ).write.format("noop").mode("overwrite").save()


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin pipe (PySpark's signal to
    exit) and wait until the JVM and the Python workers it forked are gone."""
    from pyspark import SparkContext

    from procmem import descendants

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    deadline = time.monotonic() + 60
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import web2llmstxt_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program ({e}); run from the root "
              "of a checkout of the repository", file=sys.stderr)
        return 2

    cores = args.cores or len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    isolate(work, bool(args.trace))
    try:
        return run(args, cores, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, cores: int, work: str, out_dir: str) -> int:
    from procmem import PeakRss, tree_cpu_s
    from tracing import Tracer, read_event_log
    from web2llmstxt_spark.session import get_spark
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    spark = get_spark(f"perfbench-{wl.name}", cores=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # the heap is committed and touched up front: its RSS is then the
        # same on every run instead of following the collector's resizing
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    try:
        session_s = time.perf_counter() - T_START
        t = time.perf_counter()
        if wl.python_workers:
            spawn_workers(spark, cores)
        spawn_s = time.perf_counter() - t
        reps = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            inputs = wl.make_inputs(args.seed, work)
            reps.append(time.perf_counter() - t)
        setup_s = session_s + spawn_s + statistics.median(reps)

        tracer = Tracer(spark, f"{wl.name}-{args.seed}") if args.trace else None
        outs, gcs = [], []
        cpu0 = tree_cpu_s(os.getpid())
        with PeakRss() as rss, (wl.hooks(tracer) if tracer else contextlib.nullcontext()):
            t_begin = time.perf_counter()
            while True:
                gc0 = tracer.jvm_gc_s() if tracer else 0.0
                started, t_it = time.time(), time.perf_counter()
                out = wl.run_once(spark, inputs, work, len(outs), tracer)
                out.window = (started, time.time())
                outs.append(out)
                if tracer:
                    gcs.append(tracer.jvm_gc_s() - gc0)
                it_s = time.perf_counter() - t_it
                if time.perf_counter() - t_begin + it_s > args.seconds:
                    break
        cpu_s = tree_cpu_s(os.getpid()) - cpu0
    finally:
        stop_session(spark)

    wl.prepare_check(inputs)
    failed = 0
    for i, out in enumerate(outs):
        errs = wl.check(inputs, out)
        for e in errs:
            print(f"perfbench: {wl.name} iteration {i}: {e}", file=sys.stderr)
        failed += bool(errs)

    rates = [o.items / o.wall_s for o in outs]
    walls = [o.wall_s for o in outs]
    print(f"perfbench: {wl.name} seed={args.seed} cores={cores} "
          f"iterations={len(outs)} {wl.unit}={[o.items for o in outs]} "
          f"wall_s={[round(w, 3) for w in walls]} cpu_s={cpu_s:.2f} setup: session={session_s:.2f} "
          f"spawn={spawn_s:.2f} inputs={statistics.median(reps):.3f}")
    last_path = os.path.join(
        out_dir, f"untraced-{wl.name}-seed{args.seed}-cores{cores}.json")
    if not args.trace:
        values = {"throughput_per_s": statistics.median(rates),
                  "peak_rss_mb": rss.peak_mb, "setup_s": setup_s}
        metrics = {name: metric(values[name], unit) for name, unit in END_TO_END}
        with open(last_path, "w", encoding="utf-8") as f:
            json.dump({"op_s": statistics.median(walls)}, f)
    else:
        jobs = read_event_log(os.path.join(work, "eventlog"))
        per_iter = []
        for i, out in enumerate(outs):
            mine = [j for j in jobs if out.window[0] <= j["submit"] < out.window[1]]
            vals = {name: 0.0 for name, _ in PER_LAYER}
            vals.update(wl.layers(out, tracer, mine, cores))
            vals["trace.op_s"] = out.wall_s
            vals["jvm.gc_s"] = gcs[i]
            per_iter.append(vals)
        units = dict(PER_LAYER)
        metrics = {
            name: metric(statistics.median(v[name] for v in per_iter), units[name])
            for name, _ in PER_LAYER
        }
        overhead = None
        if os.path.exists(last_path):
            with open(last_path, encoding="utf-8") as f:
                base = json.load(f)["op_s"]
            overhead = metrics["trace.op_s"]["value"] / base - 1.0
            print(f"perfbench: tracing overhead {100 * overhead:+.1f}% "
                  f"(traced {metrics['trace.op_s']['value']:.3f} s vs untraced "
                  f"{base:.3f} s, same workload, seed and cores)")
        else:
            print("perfbench: tracing overhead unknown (no untraced run of this "
                  "workload, seed and core count in .perfbench_out/)")
        trace_path = os.path.join(out_dir, f"trace-{wl.name}-seed{args.seed}.json")
        with open(trace_path, "w", encoding="utf-8") as f:
            json.dump({"spans": tracer.spans, "jobs": jobs, "per_iteration": per_iter,
                       "tracing_overhead": overhead}, f)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(outs),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
