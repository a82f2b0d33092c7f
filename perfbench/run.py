#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Run from the repository root.  One invocation generates the inputs from
``--seed``, starts one Spark session, runs the workload's untimed warm-up
iteration if it has one, then measures iterations for ``--seconds``
seconds and checks every output.  The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones.
The line before it is a human-readable summary.

Every file the run writes stays under ``.perfbench/`` in the current
directory; the run's scratch tree is removed at exit and, with
``--trace 1``, the spans are kept as ``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
sys.dont_write_bytecode = True

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "peak_rss_mb": "MB",
}

PIPELINE_STAGES = ("videos", "link_analysis", "trending", "correlation", "scc", "report", "charts")
PER_LAYER = {
    "session.create_s": "s",
    "io.tables.scan_s": "s",
    "io.tables.scan_rows": "count",
    "queries.build_s": "s",
    "queries.action_s": "s",
    "queries.spark_jobs": "count",
    "queries.spark_tasks": "count",
    "queries.errors": "count",
    "ops.metrics.shuffle_bytes": "bytes",
    "ops.metrics.shuffle_records": "count",
    "ops.metrics.n_shuffles": "count",
    "ops.metrics.broadcast_bytes": "bytes",
    "ops.staging.build_s": "s",
    "ops.staging.bytes": "bytes",
    "ops.staging.layers": "count",
    **{f"pipelines.{s}.busy_s": "s" for s in PIPELINE_STAGES},
    "pipelines.scc.spark_jobs": "count",
    "streaming.jobs.busy_s": "s",
    "streaming.jobs.spark_jobs": "count",
    "streaming.ingest_dedup.init_s": "s",
    "streaming.ingest_dedup.batch_s": "s",
    "streaming.ingest_dedup.accept_ratio": "ratio",
    "streaming.ingest_dedup.store_rows": "count",
    "streaming.line_gate.init_s": "s",
    "streaming.line_gate.batch_s": "s",
    "streaming.line_gate.accept_ratio": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "trace.overhead_ratio": "ratio",
}

WORKLOAD_NAMES = ("tpch_serve", "reference_pipeline", "stream_ingest")
DRIVER_MEM = "2g"


def pin_env(root: str, work: str) -> None:
    """The run environment, through variables the engine already reads:
    one Spark core per CPU this process may use, a driver heap that fits
    the machine, scratch space inside the run directory, and a
    PYTHONPATH that lets Python workers import the engine from any cwd."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.pop("SPARK_MASTER_SET", None)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_STAGING_DIR": os.path.join(work, "staging"),
            "PYTHONPATH": os.pathsep.join(
                p for p in (root, os.environ.get("PYTHONPATH", "")) if p
            ),
            "PYTHONDONTWRITEBYTECODE": "1",
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": tmp,
        }
    )


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def p90(values: list[float]) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def oracle_frames(workload, sf_dir: str) -> dict:
    """Oracle result (pandas) of each registry query the workload checks."""
    from wsu_cpts_415_spark.ops.conformance import duck_connect

    con = duck_connect(sf_dir)
    try:
        return {q: con.execute(workload.queries[q].oracle).fetchdf() for q in workload.registry_names}
    finally:
        con.close()


def check(iterations, workload, expected: dict[str, str]) -> tuple[int, int, list[str]]:
    """(attempted, failed, names of failed outputs) over every output."""
    attempted, bad = 0, []
    for rec in iterations:
        for key, got in rec.outputs:
            attempted += 1
            if not workload.accepts(key, got, expected.get(key)):
                bad.append(key)
    return attempted, len(bad), bad


def scan_tables(spark, tracer, sf_dir: str) -> dict[str, float]:
    """io.tables probe: ``load_table`` plus a noop write per fixture table."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from wsu_cpts_415_spark.io.tables import TABLE_NAMES, load_table

    seconds, rows = 0.0, 0
    for name in TABLE_NAMES:
        obs = Observation(f"scan_{name}")
        with tracer.span("io.tables.scan") as sp:
            df = load_table(spark, sf_dir, name).observe(obs, F.count(F.lit(1)).alias("n"))
            df.write.format("noop").mode("overwrite").save()
        seconds += sp.seconds
        rows += obs.get["n"]
    return {"io.tables.scan_s": seconds, "io.tables.scan_rows": rows}


def layer_metrics(tracer, rec, it_span) -> dict[str, float]:
    """Per-layer metrics of one traced iteration."""
    it = rec.index
    out = {k: 0.0 for k in PER_LAYER}
    total = tracer.spark_counts(tracer.job_ids(it_span, by_range=True))
    out.update({f"spark.{k}": v for k, v in total.items()})
    q_spans = tracer.named("queries.build", it) + tracer.named("queries.action", it)
    q_counts = tracer.spark_counts([j for sp in q_spans for j in tracer.job_ids(sp)])
    out["queries.build_s"] = tracer.busy("queries.build", it)
    out["queries.action_s"] = tracer.busy("queries.action", it)
    out["queries.spark_jobs"] = q_counts["jobs"]
    out["queries.spark_tasks"] = q_counts["tasks"]
    for k, v in rec.profile.items():
        out[f"ops.metrics.{k}"] = v
    for stage in PIPELINE_STAGES:
        out[f"pipelines.{stage}.busy_s"] = tracer.busy(f"pipelines.{stage}", it)
    out["pipelines.scc.spark_jobs"] = sum(
        len(tracer.job_ids(sp)) for sp in tracer.named("pipelines.scc", it)
    )
    out["streaming.jobs.busy_s"] = tracer.busy("streaming.jobs", it)
    out["streaming.jobs.spark_jobs"] = sum(
        len(tracer.job_ids(sp)) for sp in tracer.named("streaming.jobs", it)
    )
    out["trace.overhead_ratio"] = rec.wall / (rec.wall - tracer.overhead(it))
    out.update(rec.layers)
    return out


def run(args) -> int:
    root = os.getcwd()
    work = os.path.join(root, ".perfbench", f"{args.workload}-{os.getpid()}")
    pin_env(root, work)
    sys.path.insert(0, root)
    try:
        from perfbench import workloads as W
        from perfbench.trace import Tracer
        from wsu_cpts_415_spark.session import get_spark
    except ImportError as exc:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: cannot import the engine from {root}: {exc}", file=sys.stderr)
        return 2

    cls = W.WORKLOADS[args.workload]
    tracer = Tracer(concurrent=cls.concurrent)
    sf_dir = os.path.join(work, "data")
    spark = None
    try:
        W.write_inputs(args.seed, args.scale, sf_dir)
        with tracer.span("session.create") as session_span:
            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=spark_conf(work))
        spark.sparkContext.setLogLevel("ERROR")
        tracer.attach(spark.sparkContext)
        workload = cls(W.Ctx(spark, sf_dir, work, args.seed, args.scale, tracer))
        workload.prepare()
        done = []
        if workload.warm_up:
            tracer.iteration = 0
            done.append(workload.iteration(0))
        setup_s = time.perf_counter() - T_START

        measured, layers = [], []
        tracer.enabled = bool(args.trace)
        t_measure = time.perf_counter()
        while time.perf_counter() - t_measure < args.seconds:
            tracer.iteration = i = len(measured) + 1
            with tracer.span("iteration") as it_span:
                rec = workload.iteration(i)
            measured.append(rec)
            if args.trace:
                rec.profile_frames()
                layers.append(layer_metrics(tracer, rec, it_span))
        scan = scan_tables(spark, tracer, sf_dir) if args.trace else {}
        peak_rss = jvm_peak_rss_mb(spark)
        tracer.enabled = False
        expected = workload.expected(oracle_frames(workload, sf_dir))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed, bad = check(done + measured, workload, expected)
    ops = [x for rec in measured for x in rec.ops]
    walls = [rec.wall for rec in measured]
    if args.trace:
        metrics = {k: statistics.median(row[k] for row in layers) for k in PER_LAYER}
        metrics["session.create_s"] = session_span.seconds
        metrics["queries.errors"] = failed
        metrics.update(scan)
        units = PER_LAYER
        tracer.write(os.path.join(root, ".perfbench", f"trace-{args.workload}-{args.seed}.json"))
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": statistics.median(walls),
            "ops_per_s": len(ops) * (1 - failed / attempted) / sum(walls),
            "op_p50_s": statistics.median(ops),
            "op_p90_s": p90(ops),
            "peak_rss_mb": peak_rss,
        }
        units = END_TO_END
    summary = " ".join(f"{k}={v:.6g}{units[k]}" for k, v in metrics.items())
    print(
        f"perfbench {args.workload} seed={args.seed}: iterations={len(measured)} "
        f"ops={len(ops)} error_rate={failed / attempted:.6g} {summary}"
    )
    if bad:
        print(f"perfbench: wrong or failed outputs: {sorted(set(bad))}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def smoke() -> int:
    """Run every workload once on the small inputs and check its
    printed metric line."""
    bad = []
    for name in WORKLOAD_NAMES:
        for trace, names in (("0", END_TO_END), ("1", PER_LAYER)):
            cmd = [
                sys.executable, os.path.abspath(__file__), "--workload", name,
                "--seed", "1", "--seconds", "1", "--trace", trace, "--scale", "smoke",
            ]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            try:
                line = json.loads(proc.stdout.strip().splitlines()[-1])
                ok = (
                    proc.returncode == 0
                    and line["correct"]
                    and line["attempted"] >= 1
                    and line["failed"] == 0
                    and set(line["metrics"]) == set(names)
                    and all(line["metrics"][k]["unit"] == names[k] for k in names)
                )
            except (IndexError, KeyError, ValueError):
                ok = False
            print(f"smoke {name} trace={trace}: {'ok' if ok else 'FAILED'}")
            if not ok:
                bad.append(f"{name}/{trace}")
                sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "smoke"), default="bench")
    ap.add_argument("--smoke", action="store_true", help="run every workload once on small inputs")
    args = ap.parse_args(argv)
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
