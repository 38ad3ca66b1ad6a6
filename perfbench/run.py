#!/usr/bin/env python3
"""Benchmark of the crawl -> text -> corpus engine on local[4].

    python3 perfbench/run.py --workload extract_crawl --seed 1 --seconds 12 --trace 0

One run: generate (or reuse) the seeded input, set the engine up
``SETUPS`` times, prime it with one untimed job, then run the workload's
batch job back to back (closed loop, one job at a time) for ``--seconds``,
check the output, and print every metric by name with its unit. The last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. Workloads, sizes and the layer -> metric -> workload
predictions are in ``perfbench/README.md``.

Everything the run writes stays under ``.perfbench_work/`` and
``.perfbench_cache/`` at the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import statistics
import sys
import time
import uuid

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = "universal_text_extractor_spark"
SETUPS = 3
MIN_TIMED_JOBS = 2


def start_session(work: pathlib.Path, cores: int, event_log: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.driver.extraJavaOptions", "-Xms1g")
        .config("spark.eventLog.enabled", str(event_log).lower())
        .config("spark.eventLog.dir", (work / "eventlog").as_uri())
        .config("spark.eventLog.compress", "false")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop any live SparkContext, then the py4j gateway, and wait for the
    JVM it launched to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def run(args) -> dict:
    from perfbench import eventlog, gen
    from perfbench.procs import TreeMemorySampler
    from perfbench.trace import Tracer
    from perfbench.workloads import CORES, END_TO_END_UNITS, PER_LAYER_UNITS, WORKLOADS

    work = ROOT / ".perfbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "eventlog"):
        (work / sub).mkdir(parents=True)
    # keep every JVM's and Python's scratch files inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    cls, rows = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    meta = gen.ensure_pages(str(ROOT / ".perfbench_cache"), args.workload, args.seed, rows)
    print(f"input: {meta['rows']} docs, {meta['payload_bytes'] / 1e6:.2f} MB "
          f"({time.perf_counter() - t0:.1f} s to generate or load)")
    w = cls(meta, args.seed, work)
    trace = bool(args.trace)

    # set-up: session start (the first also launches the JVM), input
    # registration, warm-up; the engine's own set-up work on the input
    # (prepare) is timed apart
    setup_times = []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(work, CORES, event_log=trace)
        t_prep = time.perf_counter()
        if i == 0:
            w.prepare(spark)
        t_prep = time.perf_counter() - t_prep
        w.register(spark)
        w.warm_up(spark)
        setup_times.append(time.perf_counter() - t0 - t_prep)

    failed = jobs = 0
    walls: list[float] = []
    out_dir = None

    def one_job() -> float | None:
        nonlocal failed, jobs, out_dir
        if out_dir is not None:
            shutil.rmtree(out_dir, ignore_errors=True)
        out_dir = str(work / f"out-{jobs}")
        jobs += 1
        t0 = time.perf_counter()
        try:
            result = w.job(spark, out_dir)
        except Exception as e:  # a job that raised counts as failed
            print(f"job raised: {e!r}", file=sys.stderr)
            failed += 1
            out_dir = None
            return None
        wall = time.perf_counter() - t0
        failed += w.job_failures(result)
        return wall

    prime_s = one_job()  # untimed: the first job of a JVM is cold (JIT, codegen)
    with TreeMemorySampler() as mem:
        t_loop = time.perf_counter()
        while time.perf_counter() - t_loop < args.seconds or (
            len(walls) < MIN_TIMED_JOBS and jobs < 4 * MIN_TIMED_JOBS
        ):
            wall = one_job()
            if wall is not None:
                walls.append(wall)
    print(f"setup_s per set-up = {[round(t, 3) for t in setup_times]}")
    print(f"priming job = {prime_s} s; timed jobs = {[round(t, 3) for t in walls]}")
    print("peak memory split: " + ", ".join(
        f"{c} {b / 1e6:.0f} MB" for c, b in sorted(mem.peak_split.items(), key=lambda x: -x[1])))
    if not walls:
        raise RuntimeError("every timed job raised")
    wall = statistics.median(walls)

    t_checks = time.perf_counter()
    if not trace:
        checked = w.check(spark, out_dir) if out_dir else {}
        print(f"checks took {time.perf_counter() - t_checks:.1f} s")
        metrics = {
            "wall_s": wall,
            "docs_per_s": w.docs / wall,
            "mb_per_s": w.payload_mb / wall,
            "setup_s": statistics.median(setup_times),
            "peak_rss_mb": mem.peak / 1e6,
        }
        units = END_TO_END_UNITS
    else:
        tracer = Tracer(f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}")
        out_dir = str(work / "out-traced")
        jobs += 1
        start_ms = time.time() * 1000
        with tracer.span("job"):
            result = w.job(spark, out_dir, tracer)
        end_ms = time.time() * 1000
        failed += w.job_failures(result)
        checked = w.check(spark, out_dir)
        traced = tracer.duration("job")
        attributed = w.attributed_s(tracer)
        # a layer the workload does not run reads 0
        metrics = dict.fromkeys(PER_LAYER_UNITS, 0.0)
        metrics.update(w.layers(spark, out_dir, tracer))
        metrics.update({
            "trace.wall_s": traced,
            "trace.overhead_s": traced - wall,
            "trace.attributed_share": attributed / traced,
            "trace.unattributed_s": traced - attributed,
        })
        spark.stop()
        metrics.update(eventlog.digest(str(work / "eventlog"), start_ms, end_ms))
        spark = None

        def start_1core():
            nonlocal spark
            spark = start_session(work, 1, event_log=False)
            return spark

        metrics["extract.scaling_eff"] = w.scaling_eff(start_1core, wall)
        tracer.dump(str(work / "trace" / f"{tracer.run_id}.json"))
        for name, s in sorted(tracer.self_times().items()):
            print(f"self time {name} = {s:.4f} s")
        units = PER_LAYER_UNITS
    if spark is not None:
        spark.stop()

    failed += sum(checked.values())
    for k, v in checked.items():
        print(f"check {k} = {v}")
    attempted = w.docs * jobs
    print(f"fail_ratio = {failed / attempted:.6f} ({failed} failed of {attempted} docs attempted)")
    for k in sorted(metrics):
        print(f"{args.workload} {k} = {metrics[k]:.6g} {units[k]}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in sorted(metrics)},
    }


def main(argv: list[str] | None = None) -> int:
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE} package next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    # pyspark's Python workers inherit this through the JVM, from any cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        result = run(args)
    finally:
        shutdown_jvm()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
