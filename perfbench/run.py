"""Standing benchmark of the search engine: one workload per run.

    python3 perfbench/run.py --workload serve-rw --seed 1 --seconds 15 --trace 0

Run from the repository root. The run starts a ``local[<nproc>]`` Spark
session, builds its inputs from ``--seed`` with the engine in this checkout,
measures for ``--seconds``, checks every output, and prints as its last
stdout line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` first makes the
same run's set-up untraced in a child process, then makes the whole run
with Spark's event log on and every public call tagged with its layer, and
reports the per-layer metrics (``layers.PER_LAYER``) plus the tracing
overhead (traced minus untraced set-up wall). The line
before the result is a JSON object holding the host facts and every
workload figure by name. Scratch data lives in a per-run directory under
``perfbench/.work/`` and is removed at exit. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
}
DRIVER_MEMORY = "2g"  # bounded: the host is shared
CHILD_TIMEOUT_S = 100


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--setup-only", action="store_true",
                   help="stop after set-up and print only the detail line "
                        "(the untraced baseline of a traced run)")
    return p.parse_args(argv)


def _environment(work: str, cores: int) -> None:
    """Self-contained local mode: Python workers import the engine from this
    checkout, and every scratch file Spark, the JVM or Python writes stays
    inside the run's work dir."""
    for sub in ("local", "tmp", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _session(work: str, cores: int, trace: bool):
    from searchengine_spark.plans.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",  # one plain JSON-lines file
        })
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=2 * cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM this process launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _untraced_child(args) -> dict:
    """The same run's set-up without tracing, in a child process: the
    baseline the tracing overhead is measured against. Only the set-up is
    repeated, so that a traced run stays within the run time limit."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
           "--setup-only"]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=CHILD_TIMEOUT_S,
                         cwd=ROOT)
    lines = [ln for ln in res.stdout.splitlines() if ln.startswith("{")]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stderr[-4000:])
        raise RuntimeError(f"untraced baseline run failed (exit {res.returncode})")
    return json.loads(lines[-1])


def _measure(args, work: str, cores: int) -> tuple[dict | None, dict]:
    """One run in this process → (result object, detail object); the result
    is None when the run stops after set-up."""
    from perfbench import eventlog, layers, workloads
    from perfbench.trace import Tracer

    probe = host.HostProbe()
    t_start = time.perf_counter()
    with host.RssSampler() as rss:
        spark = _session(work, cores, bool(args.trace))
        session_s = time.perf_counter() - t_start
        run = workloads.Run(
            spark=spark, tracer=Tracer(spark, bool(args.trace)), work=work,
            seed=args.seed, seconds=args.seconds, cores=cores,
            trace=bool(args.trace), setup_only=args.setup_only,
        )
        try:
            res = workloads.WORKLOADS[args.workload](run)
        except workloads.SetupOnly:
            res = None
        finally:
            _stop_session(spark)
        run_wall_s = time.perf_counter() - t_start
    if run.setup_end is None:
        raise RuntimeError(f"workload {args.workload} never finished its set-up")
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "run_wall_s": run_wall_s,
        "session_s": session_s,
        "setup_s": run.setup_end - t_start,
    }
    if res is None:
        build_s = run.tracer.wall_s("operators.index_build")
        return None, {**detail, "build_s": build_s, "host": probe.facts()}

    tail, _pct, _n = workloads.stats.tail(res.latencies_s)
    e2e = {
        "setup_s": run.setup_end - t_start,
        "ops_per_s": res.throughput_per_s,
        "latency_p50_s": (res.p50_s if res.p50_s is not None
                          else workloads.statistics.median(res.latencies_s)),
        "latency_tail_s": tail,
        "cpu_s_per_op": run.window_cpu_s / len(res.latencies_s),
        "peak_rss_mb": rss.peak_mb,
    }
    detail.update({
        "failed_ratio": res.failed / res.attempted if res.attempted else None,
        "setup_checks_ok": res.setup_ok,
        **e2e,
        **res.detail,
        "host": probe.facts(),
    })
    correct = res.setup_ok and res.failed == 0 and res.attempted > 0
    if args.trace:
        groups = eventlog.aggregate(os.path.join(work, "events"))
        workload_layers = dict(res.layers)
        if run.tracer.of("operators.index_build"):
            workload_layers["functions.textproc.docs_per_core_s"] = (
                layers.textproc_docs_per_core_s(args.seed))
            workload_layers["operators.shards.encode_postings_per_core_s"] = (
                layers.encode_postings_per_core_s(args.seed))
        metrics, notes = layers.per_layer(run.tracer, groups, workload_layers, session_s)
        detail["layer_notes"] = notes
        detail["layers"] = metrics
        units = layers.PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    result = {
        "correct": bool(correct),
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return result, detail


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "searchengine_spark", "__init__.py")):
        print(f"perfbench: no searchengine_spark package under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = host.cores()
    baseline = _untraced_child(args) if args.trace else None
    work = os.path.join(ROOT, "perfbench", ".work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(work)
    try:
        _environment(work, cores)
        result, detail = _measure(args, work, cores)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:  # --setup-only
        print(json.dumps(detail, default=str), flush=True)
        return 0
    if baseline is not None:
        result["metrics"]["trace.overhead_s"]["value"] = detail["setup_s"] - baseline["setup_s"]
        detail["untraced"] = {k: baseline[k] for k in ("session_s", "setup_s", "build_s")}
        if baseline["build_s"]:
            layers = result["metrics"]
            detail["build_layers_over_untraced_build"] = (
                layers["operators.index_build.wall_s"]["value"]
                + layers["operators.shards.wall_s"]["value"]) / baseline["build_s"]
    print(json.dumps(detail, default=str), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
