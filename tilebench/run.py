"""Repository benchmark: batch tiling and spatial-join jobs on local[4].

    python3 tilebench/run.py --workload pyramid_resumable --seed 0 \
        --seconds 5 --trace 0

Run from the repository root. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}; the line before it is the
run record (host load, CPU calibration, per-job walls, output counts,
memory split and the program's adaptive decisions).

A run: start the session, build the seeded input three times (the
median build counts), run one cold job to warm up, then run whole jobs
closed-loop until --seconds have passed. Every job's output is checked
(see workloads.py); ``attempted`` and ``failed`` count jobs.

--trace 0 prints the end-to-end metrics:
  setup_s         session start + median input build + warm-up job
  job_s           median wall of one timed job
  out_rows_per_s  output rows of a job / job_s: tiles for
                  pyramid_resumable, PIP + kNN rows for spjoin_x8
--trace 1 runs the same untraced jobs, then the job once more layer by
layer, each layer's output materialized before the next starts, and
prints the per-layer metrics (layers named after the tilemaker_spark
modules; 0 where the workload does not run that layer).

trace.overhead_s is the sum of the staged layer walls minus the
untraced job_s (trace.job_s). On pyramid_resumable it is negative: the
staged layers hand over in-memory checkpoints, while run_pyramid writes,
lineage-scans and reads back parquet between them.

process.*_pss_mb is the peak memory of driver Python, JVM and Python
workers over the whole traced run: the sum of their proportional set
sizes from /proc, so pages a forked child shares with its parent count
once. It is not an end-to-end metric: the JVM's share moved between
1.5 and 2.2 GB over identical runs as G1 sized its heap, too wide for a
bound that would not reject good changes.

Spark runs local[4] with a 3g driver heap and no console progress bar;
its scratch space and every file a job writes stay under
.tilebench_work/ in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import probes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
DRIVER_MEM = "3g"
INPUT_BUILDS = 3
WARM_JOBS = 1
DEADLINE_S = 170

PER_LAYER = [
    "session.small_input", "session.python_stage_partitions",
    "geocode.s", "geocode.rows_out",
    "classify.s", "classify.rows_out",
    "assemble.s", "assemble.rows_out", "assemble.shuffle_bytes",
    "tileassign.cover_s", "tileassign.cover_rows_out", "tileassign.rollup_s",
    "tileassign.rollup_rows_in", "tileassign.rollup_rows_out",
    "tileassign.rollup_keep_ratio", "tileassign.rollup_shuffle_bytes",
    "encode.s", "encode.tiles_out", "encode.features_out", "encode.shuffle_bytes",
    "pipeline.run_pyramid_s", "pipeline.write_mbtiles_s", "pipeline.resume_s",
    "pipeline.checkpoint_bytes",
    "spatial.pip_s", "spatial.pip_rows", "spatial.pip_candidates",
    "spatial.pip_shuffle_s", "spatial.knn_s", "spatial.knn_rows",
    "trace.job_s", "trace.overhead_s", "spark.failed_tasks",
    "process.peak_pss_mb", "process.jvm_pss_mb", "process.python_pss_mb",
]


def _is_seconds(name: str) -> bool:
    return name.endswith(("_s", ".s"))


def _unit(name: str) -> str:
    if _is_seconds(name):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def _environment(work: str) -> None:
    """Size Spark for a 4-core box and keep all scratch inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"),
    })


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    probes.stop_children(os.getpid())


def _watchdog(deadline_s: float) -> threading.Timer:
    """Abort a run that would overrun its time limit: children are
    stopped and the process exits non-zero without a result."""
    def fire():
        print(f"tilebench: run exceeded {deadline_s:.0f} s, aborting",
              file=sys.stderr, flush=True)
        probes.stop_children(os.getpid(), timeout_s=10)
        os._exit(3)

    t = threading.Timer(deadline_s, fire)
    t.daemon = True
    t.start()
    return t


def run(args, workload_cls, work: str) -> tuple:
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "cpus": CPUS, "driver_mem": DRIVER_MEM,
              "loadavg_before": probes.loadavg(),
              "cpu_calibration_s": [probes.cpu_calibration_s()]}
    t_start = time.perf_counter()
    mem = probes.MemSampler(os.getpid())
    spark = None
    try:
        from tilemaker_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"tilebench-{args.workload}", cpus=CPUS)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        wl = workload_cls(spark, args.seed, os.path.join(work, "jobs"))

        builds = []
        for _ in range(INPUT_BUILDS):
            t0 = time.perf_counter()
            n_docs = wl.build_inputs()
            builds.append(time.perf_counter() - t0)

        attempted = failed = 0
        errors, counts_seen = [], []

        def one_job():
            nonlocal attempted, failed
            attempted += 1
            try:
                res = wl.job()
                errs, rows, counts = wl.check(res)
            except Exception as e:  # a job that raises is a failed job
                errors.append(f"job {attempted}: {type(e).__name__}: {e}"[:500])
                failed += 1
                return None
            if errs:
                errors.extend(f"job {attempted}: {x}" for x in errs)
                failed += 1
            counts_seen.append(counts)
            return res, rows

        warm = []
        for _ in range(WARM_JOBS):
            out = one_job()
            if out is None:
                break
            warm.append(out[0]["job_s"])

        walls, rows, last = [], [], None
        t_measure = time.perf_counter()
        while not walls or time.perf_counter() - t_measure < args.seconds:
            out = one_job()
            if out is None:
                break
            last = out[0]
            walls.append(last["job_s"])
            rows.append(out[1])

        record.update({
            "docs": n_docs, "session_s": session_s, "input_build_s": builds,
            "warmup_job_s": warm, "job_s": walls, "out_rows": rows,
            "counts": counts_seen[-1] if counts_seen else None,
            "counts_stable": all(c == counts_seen[0] for c in counts_seen),
            "failed_tasks": probes.failed_tasks(spark.sparkContext),
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "default_parallelism": spark.sparkContext.defaultParallelism,
        })
        if not record["counts_stable"]:
            errors.append("output counts changed between jobs")
        if not walls:
            raise RuntimeError("no job completed: " + "; ".join(errors[:3]))
        record["decisions"] = wl.decisions(last)

        job_s = statistics.median(walls)
        metrics = {
            "setup_s": session_s + statistics.median(builds) + sum(warm),
            "job_s": job_s,
            "out_rows_per_s": statistics.median(r / w for r, w in zip(rows, walls)),
        }
        if args.trace:
            metrics, trace_errs = trace(wl, spark, last, counts_seen[-1], job_s, record)
            errors.extend(trace_errs)
            metrics.update({"process.peak_pss_mb": mem.peak_mb,
                            "process.jvm_pss_mb": mem.at_peak.get("java", 0.0),
                            "process.python_pss_mb": mem.at_peak.get("python", 0.0)})
        record["pss_at_peak_mb"] = mem.at_peak
        record.update({"wall_s": time.perf_counter() - t_start,
                       "failed_jobs": failed, "errors": errors[:20]})
        ok = failed == 0 and not errors
        return ok, attempted, failed, metrics, record
    finally:
        mem.close()
        _shutdown(spark)
        record["loadavg_after"] = probes.loadavg()
        record["cpu_calibration_s"].append(probes.cpu_calibration_s())


def trace(wl, spark, ref: dict, ref_counts: dict, job_s: float, record) -> tuple:
    """The staged job after the untraced timed jobs; per-layer metrics for
    every layer (0 where this workload does not run it)."""
    m = dict.fromkeys(PER_LAYER, 0)
    layer_m, counts = wl.staged()
    m.update(layer_m)
    m.update(wl.traced_pipeline(ref))
    staged_s = sum(v for k, v in layer_m.items() if _is_seconds(k))
    staged_s += m["pipeline.write_mbtiles_s"] + m["pipeline.resume_s"]
    errs = [f"traced {k} {v} != untraced {ref_counts.get(k)}"
            for k, v in counts.items() if ref_counts.get(k) != v]
    decision = next(iter(record["decisions"].values()))
    m["session.small_input"] = int(decision["small_input"])
    m["session.python_stage_partitions"] = decision["python_stage_partitions"]
    m["trace.job_s"] = job_s
    m["trace.overhead_s"] = staged_s - job_s
    m["spark.failed_tasks"] = probes.failed_tasks(spark.sparkContext)
    record["trace_counts"] = counts
    return m, errs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "tilemaker_spark")):
        print(f"tilebench: no tilemaker_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"tilebench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".tilebench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    watchdog = _watchdog(DEADLINE_S)
    try:
        ok, attempted, failed, metrics, record = run(args, WORKLOADS[args.workload], work)
    finally:
        watchdog.cancel()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    units = {"setup_s": "s", "job_s": "s", "out_rows_per_s": "rows/s"}
    print("record: " + json.dumps(record, default=str))
    print(json.dumps({
        "correct": ok, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k) or _unit(k)}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
