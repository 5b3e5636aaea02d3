"""Layered benchmark of the sketch library on a local[N] Spark session.

    python3 perfbench/run.py --workload corpus_store --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: corpus_store and query_suite
(see workloads.py and BENCHMARK.json). Every
output is checked; the last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones. With ``--trace 1`` the run measures
with job groups and Spark's event log on, then again untraced, and
reports the per-layer metrics, including the tracing overhead; its spans
are written to ``.perfbench_out/<run>/trace.json`` at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_BASE = os.path.join(ROOT, ".perfbench_out")

# Set-up runs this many times per run and setup_s is the median: the
# first write is cold (JIT, Python workers) and the second still slow.
SETUP_REPS = 5

END_TO_END = {
    "setup_s": "s",
    "op_ms": "ms",
    "bulk_s": "s",
}

# Fixed for every workload; a layer a workload does not exercise reads 0.
PER_LAYER = {
    "bench.failed_share": "ratio",
    "bench.peak_rss_mb": "MB",
    "bench.session_start_s": "s",
    "bench.warmup_s": "s",
    "sources.generate_s": "s",
    "sources.scan_s": "s",
    "hashing.djb2_mtok_per_s": "Mitems/s",
    "sketches.cms_update_mitems_per_s": "Mitems/s",
    "sketches.hll_update_mitems_per_s": "Mitems/s",
    "sketches.cms_merge_us": "us",
    "sketches.cms_to_bytes_us": "us",
    "sketches.cms_from_bytes_us": "us",
    "sketches.cms_blob_bytes": "bytes",
    "sketches.hll_rel_error": "ratio",
    "agg.build_s": "s",
    "agg.partials_s": "s",
    "agg.merge_s": "s",
    "agg.partial_count": "count",
    "agg.partial_bytes": "bytes",
    "sql_build.build_s": "s",
    "sql_build.construct_ms": "ms",
    "sql_build.collect_s": "s",
    "sql_build.reconstruct_ms": "ms",
    "sql_build.rows": "count",
    "sketch_agg.build_s": "s",
    "sketch_agg.partials_s": "s",
    "sketch_agg.merge_s": "s",
    "rollup.write_s": "s",
    "rollup.open_ms": "ms",
    "rollup.read_p50_ms": "ms",
    "rollup.read_p75_ms": "ms",
    "rollup.read_collect_ms": "ms",
    "rollup.fold_ms": "ms",
    "rollup.days_read": "count",
    "rollup.files": "count",
    "rollup.store_bytes": "bytes",
    "plans.suite_s": "s",
    "plans.query_p50_s": "s",
    "plans.construct_s": "s",
    "plans.collect_s": "s",
    "plans.result_bytes": "bytes",
    "jobs.job_s": "s",
    "jobs.wall_sec": "s",
    "jobs.startup_s": "s",
    "jobs.spark_jobs": "count",
    "trace.overhead_ms": "ms",
    "trace.overhead_share": "ratio",
    "trace.spans": "count",
}


def _per_layer_names() -> dict[str, str]:
    from perfbench.trace import COUNTERS
    from perfbench.workloads import SUITE

    out = dict(PER_LAYER)
    for q in SUITE:
        out[f"plans.{q}_s"] = "s"
    for c in COUNTERS:
        unit = "s" if c.endswith("_s") else "bytes" if c.endswith("_bytes") else "count"
        out[f"spark.{c}"] = unit
    return out


def program_present() -> bool:
    return (os.path.isdir(os.path.join(ROOT, "parallel_count_min_sketch_spark"))
            and os.path.isfile(os.path.join(ROOT, "jobs", "curation_job.py")))


def run_phase(workload: str, seed: int, seconds: float, out: str,
              traced: bool, setup_reps: int, min_rounds: int | None = None):
    """One measured pass of ``workload``; returns (Result, Tracer, session
    start seconds, event-log dir or None)."""
    from perfbench import session
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx, log

    os.makedirs(out, exist_ok=True)
    cores = session.usable_cores()
    ctx = Ctx(root=ROOT, out=out, seed=seed, seconds=seconds, traced=traced,
              cores=cores, setup_reps=setup_reps, min_rounds=min_rounds)
    event_dir = os.path.join(out, "events") if traced else None
    t = time.perf_counter()
    ctx.spark = session.start(out, cores, event_dir)
    started = time.perf_counter() - t
    log(f"local[{cores}] session started in {started:.1f} s")
    if traced:
        ctx.tracer = Tracer(ctx.spark.sparkContext)
    try:
        res = WORKLOADS[workload](ctx)
    finally:
        ctx.spark.stop()
    return res, ctx.tracer, started, event_dir


def stop_processes(timeout: float = 30.0) -> None:
    """Shut the Spark JVM down and wait until every process this run
    started (the JVM, its Python workers, a spark-submit job) has ended."""
    from pyspark import SparkContext

    from perfbench.rss import descendants

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                pass  # killed with the rest of the tree below
    deadline = time.monotonic() + timeout
    while True:
        tree = descendants(os.getpid())
        if not tree:
            return
        if time.monotonic() > deadline:
            for pid in tree:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


def end_to_end(res) -> dict[str, float]:
    from perfbench.stats import median

    return {
        "setup_s": median(res.setup),
        "op_ms": res.op_typical() * 1e3,
        "bulk_s": median(res.bulk),
    }


def per_layer(plain, traced, tracer, started: float, event_dir: str,
              out: str, peak_rss: int) -> dict[str, float]:
    from perfbench.trace import COUNTERS, event_log_files, parse_event_log, self_times
    from perfbench.workloads import kernel_replay

    layers = {name: 0 for name in _per_layer_names()}
    layers.update(traced.layers)
    layers["bench.session_start_s"] = started
    layers["bench.peak_rss_mb"] = peak_rss / 2**20
    kernel_replay(layers)

    groups = parse_event_log(event_log_files(event_dir))
    ops = [s for s in tracer.spans if s.get("op")]
    for c in COUNTERS:
        layers[f"spark.{c}"] = sum(groups.get(s["group"], {}).get(c, 0)
                                   for s in ops) / len(ops)

    untraced = plain.op_typical()
    layers["trace.overhead_ms"] = (traced.op_typical() - untraced) * 1e3
    layers["trace.overhead_share"] = traced.op_typical() / untraced - 1
    layers["trace.spans"] = len(tracer.spans)
    layers["bench.failed_share"] = len(traced.failures) / traced.attempted

    st = self_times(tracer.spans)
    for s in tracer.spans:
        s["self_s"] = st[s["id"]]
        s["spark"] = groups.get(s["group"])
    with open(os.path.join(out, "trace.json"), "w") as f:
        json.dump({"spans": tracer.spans, "untagged": groups.get(None)}, f)
    return layers


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["corpus_store", "query_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not program_present():
        print("perfbench: the sketch library (parallel_count_min_sketch_spark/, "
              "jobs/) is not in this checkout", file=sys.stderr)
        return 2

    out = os.path.join(OUT_BASE, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    # keep every scratch file of the run in ``out``: Spark's, the Python
    # workers' and every JVM's (no hsperfdata under the system temp dir)
    os.environ.update(
        TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp, PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    tempfile.tempdir = None

    from perfbench.rss import PeakRSS

    rss = PeakRSS().start()
    try:
        if args.trace:
            # traced first, at the warmth of an untraced run; the shorter
            # untraced repeat then runs in a warmer JVM, so the reported
            # overhead (on op_ms) is an upper bound
            traced, tracer, started, event_dir = run_phase(
                args.workload, args.seed, args.seconds,
                os.path.join(out, "traced"), traced=True, setup_reps=SETUP_REPS)
            peak = rss.stop()
            plain, _, _, _ = run_phase(
                args.workload, args.seed, 0, os.path.join(out, "plain"),
                traced=False, setup_reps=1, min_rounds=1)
            results = [traced, plain]
            metrics = per_layer(plain, traced, tracer, started, event_dir,
                                out, peak)
            units = _per_layer_names()
        else:
            plain, _, _, _ = run_phase(
                args.workload, args.seed, args.seconds,
                os.path.join(out, "plain"), traced=False, setup_reps=SETUP_REPS)
            results = [plain]
            metrics = end_to_end(plain)
            units = END_TO_END
    finally:
        rss.stop()
        stop_processes()
    failures = [why for r in results for why in r.failures]
    attempted = sum(r.attempted for r in results)

    for name, value in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {units[name]}")
    for why in failures:
        print(f"FAILED: {why}", file=sys.stderr)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
