"""User-path benchmark for the semantic search engine.

    python3 userbench/run.py --workload search --seed 1 --seconds 20 --trace 0

Runs one workload (``search`` or ``dedup``) on ``local[nproc]`` from the
root of a source checkout, checks every output against a brute-force
oracle, and prints as its LAST stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` replays each
op as calls into the program's layers and reports the per-layer metrics
(spans are written to ``.userbench/trace-<workload>-<seed>.json``). The
line before the result carries the run's environment stamp, traffic
dimensions and check details. ``bench.py`` at the repo root is the older
operator sweep and is not this benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

JVM_HEAP = "2g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(workdir: str) -> None:
    """The benchmark's own environment: all cores of this host, a JVM
    heap that fits it, and every temporary file inside ``workdir``."""
    os.environ.pop("SPARK_MASTER", None)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher's too: temp files in the checkout, no
    # hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def git_commit() -> str:
    """HEAD of the checkout, read from ``.git`` without running git;
    'unknown' outside a git work tree."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return "unknown"


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("search", "dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".userbench")
    workdir = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    pin_environment(workdir)
    try:  # outside a full checkout the package is missing: fail, no result
        from pyspark import __version__ as spark_version

        from pubmed_central_semantic_search_spark.session import get_spark

        from userbench import gen, workloads
    except ImportError:
        shutil.rmtree(workdir, ignore_errors=True)
        raise

    def start_session():
        return get_spark(
            app_name=f"userbench-{args.workload}",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )

    load_start = os.getloadavg()
    run = workloads.Run(start_session, workdir, args.seed, args.seconds, bool(args.trace))
    try:
        getattr(workloads, args.workload)(run)
        rss = vm_hwm_mb("self") + vm_hwm_mb(run.spark.sparkContext._gateway.proc.pid)
        if run.tracer:
            run.tracer.dump(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        if run.spark is not None:
            proc = run.spark.sparkContext._gateway.proc
            run.spark.stop()
            run.spark.sparkContext._gateway.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)
        shutil.rmtree(workdir, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in declared:
        if args.trace:  # a layer that the workload does not run reports 0
            value = run.layer.get(m["name"], 0.0)
        else:
            value = run.e2e[m["name"]]
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cpus(),
        "jvm_heap": JVM_HEAP,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "spark_version": spark_version,
        "git_commit": git_commit(),
        "python": sys.version.split()[0],
        "traffic": gen.TRAFFIC[args.workload],
        "peak_rss_mb": round(rss, 1),
        "details": run.details,
        "problems": run.problems[:20],
        "unix_time": time.time(),
    }
    print(json.dumps(stamp, default=str))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
