"""Benchmark of the visits ETL and the query suite.

    python3 perfbench/run.py --workload {etl,queries,all} --seed N --seconds S --trace {0,1}

Run from anywhere inside a checkout of the repository; it writes only under
``.perfbench/`` at the checkout's root. One run starts a Spark session at
``local[<cores>]``, sets up the workload (inputs from ``--seed``, warm-up,
stored artifacts), measures it, checks its outputs and stops every process
it started. With ``--trace 0`` it times as many untraced passes as fit in
``--seconds`` seconds, at least one, and reports the end-to-end metrics; with ``--trace 1`` it runs one
traced pass between two untraced ones, reports the per-layer metrics and
writes the spans to ``.perfbench/spans/<workload>-seed<N>.jsonl``.

Every metric is printed on a line of its own, then the last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. The exit code is 1 when an
output check failed. ``--workload all`` runs each workload in turn, each in
a process of its own.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import workloads  # noqa: E402

WORK_ROOT = os.path.join(ROOT, ".perfbench")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
    "peak_rss_mb": "MB",
}

# The bench session profile (as bench.py): four shuffle partitions and no
# AQE, which at this input size only adds re-planning; no UI, whose event
# bookkeeping costs tens of ms per job; no locality wait on one node; a
# codegen cache large enough that a warm pass stays warm.
PROFILE = {
    "spark.sql.adaptive.enabled": "false",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.locality.wait": "0ms",
    "spark.sql.codegen.cache.maxEntries": "5000",
    "spark.sql.codegen.maxFields": "300",
    # 2 GB rather than get_spark's 8 GB: both workloads spill nothing at
    # 2 GB; and a heap fixed at that size, since resizing added run-to-run
    # spread. The young generation is fixed too: G1 sizes it from measured
    # pause times, so on a slow host it touched fewer pages, and peak RSS
    # read 1.9-2.8 GB for the same run
    "spark.driver.memory": "2g",
    "spark.driver.extraJavaOptions": "-Xms2g -Xmn1g",
}


def start_session(workdir: str):
    """Start the bench session with every scratch path under ``workdir``."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # stored scratch artifacts live in tempfile's dir
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # every JVM spark-submit starts, the launcher too: temp files here, and
    # no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python UDF workers import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from pipeline_etl_website_visits_spark.session import get_spark

    conf = dict(PROFILE)
    conf["spark.sql.warehouse.dir"] = os.path.join(workdir, "spark-warehouse")
    cores = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=4, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    try:
        gateway.shutdown()
    finally:
        # the gateway JVM exits when its stdin closes
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the driver JVM."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024.0


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; below twenty samples that is the median."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return statistics.median(xs), 50.0
    k = n - 11
    return xs[k], 100.0 * (k + 1) / n


def report(name: str, res: workloads.Result, rss: float, trace: bool) -> dict:
    """Print every metric on its own line and return the result object."""
    lines: list[tuple[str, float, str, str]] = []
    if trace:
        metrics = {k: {"value": float(res.layers[k]), "unit": u} for k, u in workloads.LAYERS.items()}
    else:
        samples = [x for xs in res.ops.values() for x in xs] or [0.0]
        tail_s, pct = tail(samples)
        p50 = statistics.median(samples)
        op_medians = [statistics.median(xs) for xs in res.ops.values()]
        values = {
            "setup_s": res.setup_s,
            "pass_s": statistics.median(res.passes),
            "op_geomean_s": statistics.geometric_mean(op_medians) if op_medians else 0.0,
            "peak_rss_mb": rss,
        }
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
        n = f"p{pct:.0f} of n={len(samples)}"
        # the same numbers under the names of the unit each workload commits
        if name == "etl":
            mb = res.microbatch_ops
            lines += [
                ("commit_p50_s", p50, "s", f"n={len(samples)} files of the batch driver"),
                ("commit_tail_s", tail_s, "s", n),
                ("microbatch_commit_p50_s", statistics.median(mb) if mb else 0.0, "s", f"n={len(mb)} micro-batches, not gated"),
                ("rows_per_s", res.rows_per_pass / values["pass_s"], "1/s", "input rows committed"),
            ]
        else:
            lines += [
                ("query_p50_s", p50, "s", f"n={len(samples)} query runs"),
                ("query_tail_s", tail_s, "s", n),
            ]
    lines += [(k, m["value"], m["unit"], "") for k, m in metrics.items()]
    lines.append(("failed_frac", res.failed / max(res.attempted, 1), "ratio", f"{res.failed} of {res.attempted}"))
    for k, v, u, note in sorted(lines):
        print(f"{name} {k} = {v:.6g} {u}" + (f"  ({note})" if note else ""))
    for p in res.problems:
        print(f"{name} FAILED: {p}", file=sys.stderr)
    return {
        "correct": res.failed == 0 and res.attempted > 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }


def run_one(name: str, seed: int, seconds: float, trace: bool) -> dict:
    os.makedirs(WORK_ROOT, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{name}-seed{seed}-", dir=WORK_ROOT)
    spans = os.path.join(WORK_ROOT, "spans", f"{name}-seed{seed}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    try:
        t0 = time.perf_counter()
        spark = start_session(workdir)
        session_s = time.perf_counter() - t0
        try:
            ctx = workloads.Ctx(spark, seed, seconds, trace, workdir, spans)
            res = workloads.WORKLOADS[name](ctx, session_s)
            rss = peak_rss_mb(spark)
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return report(name, res, rss, trace)


def run_all(args) -> int:
    """Each workload in a process of its own, one after the other."""
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed)]
        cmd += ["--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.splitlines()
        print("\n".join(lines[:-1]), flush=True)
        try:
            one = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            one = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        out["correct"] = out["correct"] and one["correct"] and proc.returncode == 0
        out["attempted"] += one["attempted"]
        out["failed"] += one["failed"]
        out["metrics"][name] = one["metrics"]
    print(json.dumps(out))
    return 0 if out["correct"] else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*workloads.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    out = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
