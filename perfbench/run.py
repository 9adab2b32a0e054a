"""Benchmark entry point: sparkharvester crawl rounds and analytics sessions.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload crawl-polite --seed 1 --seconds 5 --trace 0

Workloads (see README.md): ``crawl-polite`` and ``analytics-session``.
``--trace 0`` times the workload with no wrappers but the round
boundary hook and prints the end-to-end metrics; ``--trace 1``
installs the layer wrappers and prints the per-layer metrics.  Either
way every figure is also printed, one per line, before the last line,
which is a single JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Spark runs on ``local[<half the cores>]`` inside this process; its local,
warehouse and temporary directories live under ``.perfbench_work/`` in
the checkout and are deleted at exit.  Spans go to
``.perfbench_traces/<workload>-s<seed>-t<trace>.json``.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("crawl-polite", "analytics-session")

E2E = {"setup_s": "s", "pass_s": "s", "step_p50_s": "s", "state_mb": "MB"}
CRAWL_LAYERS = [
    ("frontier.jobs_per_round", "count"), ("frontier.stages_per_round", "count"),
    ("frontier.tasks_per_round", "count"), ("frontier.round_self_s", "s"),
    ("frontier.finish_s", "s"), ("synth.fetch_rows", "count"),
    ("synth.fetch_rows_per_page", "ratio"), ("synth.fetch_busy_s", "s"),
    ("urlnorm.udf_rows", "count"), ("urlnorm.udf_busy_s", "s"),
    ("seen.sketch_s", "s"), ("seen.probe_rows", "count"),
    ("seen.maybe_frac", "ratio"), ("storage.write_wall_s", "s"),
    ("storage.read_s", "s"), ("storage.delta_dirs_read", "count"),
    ("storage.commit_s", "s"), ("storage.files_written", "count"),
    ("storage.bytes_written", "B"), ("storage.resume_read_s", "s"),
    ("storage.finish_read_s", "s"),
]
QUERY_MODULES = ["q_intel", "q_text", "q_dedup", "q_sim", "q_rel", "q_url",
                 "q_more", "q_img", "q_viz", "q_crawl"]
QUERY_LAYERS = [(f"{m}.{k}", "count" if k == "jobs" else "s")
                for m in QUERY_MODULES
                for k in ("build_s", "exec_s", "fill_s", "jobs")]
COMMON_LAYERS = [
    ("session.persisted_frames", "count"), ("session.cached_mb", "MB"),
    ("spark.jvm_peak_rss_mb", "MB"), ("trace.pass_s", "s"),
    ("trace.addback_err_s", "s"),
]
PER_LAYER = dict(CRAWL_LAYERS + QUERY_LAYERS + COMMON_LAYERS)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Point every directory Spark and Python write to into *work*, and
    let Python workers import the engine and the benchmark modules."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "local"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "TMPDIR": tmp,
        # the spark-submit launcher JVM: no /tmp/hsperfdata_* file
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
    })


def start_spark(name: str, work: str):
    from sparkharvester.session import get_spark

    # half the host's cores: at these sizes a run is no faster on all of
    # them, and leaving cores to the JIT, GC and Python workers makes
    # run-to-run times steadier
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    spark = get_spark(
        f"perfbench-{name}", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()      # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort, then wait again
            proc.kill()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import sparkharvester  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload == "crawl-polite":
        import crawl as workload
    else:
        import analytics as workload
    import tracing

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    spark = None
    try:
        spark = start_spark(args.workload, work)
        ctx = workload.setup(spark, args.seed, work)
        setup_s = time.perf_counter() - T_START
        res = workload.measure(spark, ctx, args.seconds, bool(args.trace))
        rss = tracing.jvm_peak_rss_mb(spark)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    traces = os.path.join(ROOT, ".perfbench_traces")
    os.makedirs(traces, exist_ok=True)
    res["tracer"].write(os.path.join(
        traces, f"{args.workload}-s{args.seed}-t{args.trace}.json"))

    e2e = {"setup_s": setup_s + res.get("warmup_s", 0.0), **res["e2e"]}
    layers = dict.fromkeys(PER_LAYER, 0.0)
    layers.update(res.get("layers", {}))
    layers.update({
        "session.persisted_frames": res["persisted_frames"],
        "session.cached_mb": res["cached_mb"],
        "spark.jvm_peak_rss_mb": rss,
        "trace.pass_s": e2e["pass_s"] if args.trace else 0.0,
        "trace.addback_err_s": res.get("addback_err_s", 0.0),
    })

    for err in res["errors"]:
        print(f"FAILED {err}")
    fail_frac = res["failed"] / res["attempted"]
    print(f"{args.workload} seed={args.seed} trace={args.trace}")
    for k, v in e2e.items():
        print(f"  {k} = {v:.6g} {E2E[k]}")
    for k, (v, unit) in res["report"].items():
        print(f"  {k} = {v:.6g} {unit}")
    print(f"  failed_frac = {fail_frac:.6g} ({res['failed']}/{res['attempted']})")
    if args.trace:
        for k, v in layers.items():
            print(f"  {k} = {v:.6g} {PER_LAYER[k]}")
    metrics = ({k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
               if not args.trace else
               {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()})
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
