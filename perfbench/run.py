"""Engine benchmark: one closed-loop client against a local Spark session.

Run from the repository root:

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py): stream_ingest, dedup_stream.

With ``--trace 0`` the last stdout line is one JSON object holding every
end-to-end metric; with ``--trace 1`` it holds every per-layer metric,
measured from spans around calls into the engine's public functions and
from subtraction controls (layers.py). Per-op samples, percentiles, sample
counts, context and spans go to ``perfbench/results/``; scratch data goes
to ``perfbench/.work/`` and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mapbox_vector_tile_java_spark"

SETUP_REPS = 2           # set-up is repeated; setup_s uses the median
JVM_HEAP = "3g"          # the local JVM runs every task, so this is its heap

# What each end-to-end metric measures, per workload:
#   setup_s             session start (JVM, Python workers) plus the median
#                       set-up rep (stream_ingest: micro-batch inputs;
#                       dedup_stream: corpus files and minhash index build)
#   op_p50_s            median latency of one operation: a segment append /
#                       one batch of dedup_incremental + minhash_index_append
#   throughput_mbps     raw MB appended per second of round wall (appends,
#                       pruned query, maintenance and read-back) / new-batch
#                       text MB deduplicated per second of batch time
#   bytes_per_raw_byte  encoded bytes per raw byte of the table after the
#                       first maintenance round / minhash index bytes per raw
#                       text byte after the first batch; fixed by the seed
#   ok_ratio            operations that returned and passed their check,
#                       over operations attempted
#   peak_rss_mb         highest RSS of this process + JVM + Python workers held
#                       for one second
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "throughput_mbps": "MB/s",
    "bytes_per_raw_byte": "ratio",
    "ok_ratio": "ratio",
    "peak_rss_mb": "MiB",
}

# A layer the workload never calls reads 0: codec, decode and incremental
# layers on dedup_stream, dedup layers on stream_ingest.
PER_LAYER = {
    "codec_plan.sample_s": "s",
    "codec_plan.plan_s": "s",
    "partitioning.shuffle_s": "s",
    "encode.transfer_s": "s",
    "encode.kernels_s": "s",
    "encode.write_s": "s",
    "encode.spark_jobs": "count",
    **{f"codecs.{c}.{d}_mbps": "MB/s"
       for c in ("tok_dict", "fsst_global", "dict_global", "for_bitpack")
       for d in ("enc", "dec")},
    "columns.crc_mbps": "MB/s",
    "decode.scan_s": "s",
    "decode.transfer_s": "s",
    "decode.kernels_s": "s",
    "decode.crc_s": "s",
    "decode.blocks_scanned": "count",
    "decode.blocks_total": "count",
    "decode.prune_ratio": "ratio",
    "decode.pruned_s": "s",
    "decode.multi_s": "s",
    "incremental.due_s": "s",
    "incremental.compact_s": "s",
    "incremental.promote_s": "s",
    "incremental.verify_reap_s": "s",
    "incremental.fingerprint_s": "s",
    "incremental.bytes_rewritten": "bytes",
    "incremental.segments_before": "count",
    "incremental.segments_after": "count",
    "incremental.write_amp": "ratio",
    "dedup.signatures_s": "s",
    "dedup.incremental_s": "s",
    "dedup.index_append_s": "s",
    "dedup.index_rows": "count",
    "dedup.pairs": "count",
    "trace.overhead_ratio": "ratio",
    "trace.layer_sum_ratio": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["stream_ingest", "dedup_stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and make the engine
    importable in Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "pyspark-shell")


def start_spark(nproc: int):
    from layers import identity
    from mapbox_vector_tile_java_spark.session import get_spark

    spark = get_spark("perfbench", cores=nproc, shuffle_partitions=nproc)
    # the first Python job starts the workers; keep that out of the set-up reps,
    # which are timed one by one and reported as session start + their median
    spark.range(nproc, numPartitions=nproc).mapInArrow(identity, "id long").count()
    return spark


def stop_spark(spark, pids: set[int]) -> None:
    """Stop the session, end the JVM, and wait for every process the run
    started (the JVM's Python workers outlive it by a moment)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    alive = {p for p in pids if p != os.getpid()}
    while alive:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)}
        if alive and time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def cpu_ticks() -> list[int]:
    """user, nice, system, idle, iowait, irq, softirq, steal from /proc/stat"""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a "
              f"checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    configure_env(work)

    from mapbox_vector_tile_java_spark.session import probe_effective_parallelism
    from spans import RssSampler, Tracer
    from workloads import WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    eff = probe_effective_parallelism(n_procs=nproc, rounds=1)
    tracer = Tracer(run_id)
    rss = RssSampler(os.getpid())
    rss.start()
    ticks0 = cpu_ticks()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(nproc)
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
        reps = []
        for r in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(os.path.join(work, f"setup{r}"))
            reps.append(time.perf_counter() - t0)
        wl.prepare()
        t0 = time.perf_counter()
        if args.trace:
            layer_values = wl.trace()
        else:
            wl.run(args.seconds)
            layer_values = {}
        measured_s = time.perf_counter() - t0
    finally:
        ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
        rss.stop()
        if spark is not None:
            stop_spark(spark, rss.pids)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        values = {n: layer_values.get(n, 0.0) for n in PER_LAYER}
        units = PER_LAYER
    else:
        values = wl.end_to_end()
        values["setup_s"] = session_s + statistics.median(reps)
        values["ok_ratio"] = (wl.attempted - wl.failed) / max(wl.attempted, 1)
        values["peak_rss_mb"] = rss.peak() / 2**20
        units = END_TO_END
    detail = {
        "run": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "nproc": nproc,
        "effective_parallelism": eff,
        "cpu_ticks": dict(zip(["user", "nice", "system", "idle", "iowait", "irq",
                               "softirq", "steal"], ticks)),
        "session_s": session_s, "setup_reps_s": reps, "measured_s": measured_s,
        "attempted": wl.attempted, "failed": wl.failed, "metrics": values,
        "rss_series": rss.series,
        "extra_layer_metrics": {k: v for k, v in layer_values.items()
                                if k not in PER_LAYER},
        **wl.report(),
    }
    with open(os.path.join(results, run_id + ".json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    if args.trace:
        tracer.dump(os.path.join(results, run_id + ".spans.json"))
        print(f"perfbench: dominant layer {wl.details.get('dominant_layer')}",
              file=sys.stderr)
    print(json.dumps({
        "correct": wl.attempted > 0 and wl.failed == 0,
        "attempted": max(wl.attempted, 1), "failed": wl.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
