"""End-to-end and per-layer benchmark of the dedup engine's product paths.

Usage, from the root of a checkout::

    python3 productbench/run.py --workload pipeline_planted --seed 1 --seconds 15 --trace 0

``--trace 0`` times ops through the public entry points and prints every
end-to-end metric; ``--trace 1`` re-runs one op as separate layer calls in
spans and prints every per-layer metric. The last line of standard output
is one JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``. See README.md in this directory.
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
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cs588_data_science_bug_duplicate_detector_spark"
CORES = 2
JVM_HEAP = "1g"

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "1/s",
    "op_s_p50": "s",
    "cpu_s_per_kdoc": "s",
    "peak_rss_mb": "MB",
    "dup_pair_recall": "ratio",
    "merge_precision": "ratio",
}

BATCH_LAYERS = ("extract", "sign", "exact", "minhash", "simhash", "suffix", "cc")
FOLD_LAYERS = tuple(
    f"incremental.{x}"
    for x in ("sign", "index_scan", "minhash", "exact", "simhash", "fold_labels", "commit")
)
STREAM_LAYERS = ("stream.siglog", "stream.candidates")
COUNTS = {
    "exact.edges": "count",
    "minhash.candidates": "count",
    "minhash.edges": "count",
    "minhash.verify_yield": "ratio",
    "minhash.hot_buckets": "count",
    "minhash.max_bucket": "count",
    "simhash.edges": "count",
    "simhash.hot_chunks": "count",
    "suffix.edges": "count",
    "suffix.windows_dropped": "count",
    "suffix.docs_capped": "count",
    "cc.rounds": "count",
    "cc.edges_in": "count",
    "pipeline.bytes_written_per_input_byte": "ratio",
    "incremental.new_edges": "count",
    "incremental.old_rows_touched_ratio": "ratio",
    "incremental.index_bytes_per_input_byte": "ratio",
    "incremental.batch_label_mismatch_docs": "count",
    "stream.batches": "count",
    "stream.batch_s_p50": "s",
    "stream.batch_growth": "ratio",
    "stream.state_rows": "count",
    "stream.state_commit_ms": "ms",
    "stream.verified_edges": "count",
    "stream.unverifiable_edges": "count",
    "stream.batch_label_mismatch_docs": "count",
    "trace.overhead_s": "s",
}
ENGINE_UNITS = {
    "exec_run_s": "s",
    "exec_cpu_s": "s",
    "python_bytes": "bytes",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
}


def _self_time_name(layer: str) -> str:
    """``minhash`` -> ``minhash.s``; ``incremental.sign`` -> ``incremental.sign_s``."""
    return f"{layer}.s" if "." not in layer else f"{layer}_s"


def per_layer_units() -> dict[str, str]:
    units = {_self_time_name(x): "s" for x in BATCH_LAYERS + FOLD_LAYERS + STREAM_LAYERS}
    units["pipeline.overhead_s"] = "s"
    for layer in BATCH_LAYERS + FOLD_LAYERS + STREAM_LAYERS:
        for key, unit in ENGINE_UNITS.items():
            units[f"{layer}.{key}"] = unit
    units.update(COUNTS)
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' is for the smoke tests")
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside ``work``,
    and let the workers import the checkout's package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR: get_spark's checkpoint dir derives from it
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_spark(work: str, trace: bool):
    from cs588_data_science_bug_duplicate_detector_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                # Spark 4.1 defaults to zstd; the log is read back as plain JSON lines
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("productbench", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _drift(walls: list[float]) -> float | None:
    """Median of the second half of the timed ops over that of the first."""
    half = len(walls) // 2
    if not half:
        return None
    return statistics.median(walls[len(walls) - half:]) / statistics.median(walls[:half])


def run(args, work: str) -> tuple[dict, dict]:
    """Returns (result line, report)."""
    import procstat
    import workloads

    size = workloads.SIZES[args.size]
    pid = os.getpid()
    rss = procstat.PeakRss(pid)
    report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    attempted = failed = 0
    identity = None
    checks: list[dict] = []
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, size)
        t1 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t1
        t2 = time.perf_counter()
        wl.setup()
        build_s = time.perf_counter() - t2
        t3 = time.perf_counter()
        if args.trace and hasattr(wl, "reference"):
            wl.reference()
        ref_s = time.perf_counter() - t3

        def one_op(timed: bool) -> tuple[float, str]:
            """Restore state, run one op, check it; returns (wall, state)."""
            nonlocal identity
            state = wl.restore()
            cpu0 = procstat.tree_cpu_s(pid)
            t = time.perf_counter()
            with rss.armed() if timed else nullcontext():
                out = wl.op(state)
            wall = time.perf_counter() - t
            cpu = procstat.tree_cpu_s(pid) - cpu0
            chk = wl.check(state, out)
            chk.update(wall_s=wall, cpu_s=cpu, timed=timed)
            checks.append(chk)
            if identity is None:
                identity = chk["identity"]
            if not chk["ok"] or chk["identity"] != identity:
                raise RuntimeError(f"op output check failed: {chk}")
            return wall, state

        t4 = time.perf_counter()
        warm = []
        for _ in range(size["warmup_ops"]):
            warm.append(one_op(False))
        warmup_s = time.perf_counter() - t4
        setup_s = session_s + build_s + warmup_s
        report.update(
            gen_s=gen_s, session_s=session_s, build_s=build_s, ref_s=ref_s,
            warmup_s=warmup_s, warmup_walls=[w for w, _ in warm],
        )

        if args.trace:
            import spans as tr

            # one warm untraced op, the wall the layer self times are set against
            warm.append(one_op(False))
            tracer = tr.Tracer(spark)
            t5 = time.perf_counter()
            got = wl.trace(tracer, *warm[-1])
            report.update(trace_s=time.perf_counter() - t5)
            attempted = 1
            stop_spark(spark)
            spark = None
            metrics = layer_metrics(work, tracer, got)
            report.update(spans=tracer.spans, engine=got["engine"],
                          layer_self_sum_s=got["layer_self_sum_s"])
        else:
            walls, cpus = [], []
            deadline = time.perf_counter() + args.seconds
            while len(walls) < wl.min_timed_ops or time.perf_counter() < deadline:
                attempted += 1
                try:
                    one_op(True)
                except Exception:
                    failed += 1
                    traceback.print_exc()
                    if failed >= 2:
                        break
                    continue
                walls.append(checks[-1]["wall_s"])
                cpus.append(checks[-1]["cpu_s"])
            if not walls:
                raise RuntimeError("no op completed")
            done_docs = wl.docs * len(walls)
            last = checks[-1]
            metrics = {
                "setup_s": setup_s,
                "docs_per_s": done_docs / sum(walls),
                "op_s_p50": statistics.median(walls),
                "cpu_s_per_kdoc": sum(cpus) / (done_docs / 1000),
                "peak_rss_mb": rss.peak_bytes / 2**20,
                "dup_pair_recall": last["recall"],
                "merge_precision": last["precision"],
            }
            report.update(
                ops=len(walls), walls=walls, cpus=cpus, drift=_drift(walls),
            )
        report["checks"] = [
            {k: v for k, v in c.items() if k != "identity"} for c in checks
        ]
        correct = failed == 0 and all(c["ok"] for c in checks)
        return (
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            },
            report,
        )
    finally:
        rss.close()
        if spark is not None:
            stop_spark(spark)


def layer_metrics(work: str, tracer, got: dict) -> dict:
    import spans as tr

    self_s = tr.self_times(tracer.spans)
    aliases = {s["run_id"]: s["name"] for s in tracer.spans if "run_id" in s}
    engine = tr.fold_event_log(tr.find_event_log(os.path.join(work, "eventlog")), aliases)
    got["engine"] = engine
    metrics = dict.fromkeys(per_layer_units(), 0.0)
    layers = BATCH_LAYERS + FOLD_LAYERS + STREAM_LAYERS
    for layer in layers:
        metrics[_self_time_name(layer)] = self_s.get(layer, 0.0)
        for key in ENGINE_UNITS:
            metrics[f"{layer}.{key}"] = engine.get(layer, {}).get(key, 0.0)
    layer_sum = sum(self_s.get(x, 0.0) for x in layers)
    root = got["root"]
    metrics["trace.overhead_s"] = self_s.get(root, 0.0)
    if root == "pipeline":
        # run_pipeline's own wall minus its layers: fingerprints, meta and
        # checkpoint re-reads
        metrics["pipeline.overhead_s"] = max(
            got["op_wall_s"] - sum(self_s.get(x, 0.0) for x in BATCH_LAYERS), 0.0
        )
    metrics.update(got["counts"])
    got["layer_self_sum_s"] = layer_sum
    return metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE!r} not found under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        isolate(work)
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"error: unknown workload {args.workload!r}; choose from "
                  f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        result, report = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still has its directory there
    units = per_layer_units() if args.trace else END_TO_END
    result["metrics"] = {
        k: {"value": float(v), "unit": units[k]} for k, v in result["metrics"].items()
    }
    print("REPORT " + json.dumps(report, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
