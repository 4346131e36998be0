#!/usr/bin/env python3
"""Benchmark of the BM25 engine: one workload, one seed, one process.

    python3 perfbench/run.py --workload search-single --seed 1 --seconds 9 --trace 0

Run from the repository root. Workloads: ``search-single``,
``search-batch``, ``ingest`` (see workloads.py). ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` runs one request cycle of the same
workload with spans on, then the per-layer probes (probes.py), and prints
the per-layer metrics.
Every read is checked against an exact brute-force oracle. Human-readable
lines come first; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

All files go under ``.perfbench_work/`` in the repository root: temporary
corpora and indexes (deleted at exit), Spark's local and temp dirs, and
``runs/`` with one record per run (environment, metrics, spans).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
HEAP = "1g"  # driver heap; local mode runs every executor thread in it

E2E_UNITS = {
    "setup_s": "s",
    "search_p50_s": "s",
    "search_qps": "1/s",
    "index_docs_per_s": "1/s",
    "index_bytes_per_content_byte": "ratio",
    "peak_rss_mb": "MB",
}


def layer_unit(name: str) -> str:
    if "mb_per_s" in name:
        return "MB/s"
    if name.endswith("_per_s"):
        return "1/s"
    if "bytes" in name:
        return "B"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_us"):
        return "us"
    if name.endswith("_s") or "_s." in name:
        return "s"
    if "ratio" in name or "_per_new_" in name:
        return "ratio"
    return "count"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["search-single", "search-batch", "ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="tiny: ~2k-doc inputs, for the self-test")
    p.add_argument("--perturb", action="store_true",
                   help="corrupt the first checked result (self-test of the oracle)")
    return p.parse_args(argv)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler(threading.Thread):
    """Peak of the summed resident memory of this process and its process
    tree (the driver JVM, the Python worker daemon and its workers). Each
    process counts its proportional set size, so pages the forked workers
    share with the daemon count once, whatever the number of workers."""

    def __init__(self, interval: float = 1.0):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kib = 0
        self._stop_evt = threading.Event()

    def sample(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
            except (OSError, StopIteration, ValueError):
                pass
        return total

    def run(self):
        while not self._stop_evt.is_set():
            self.peak_kib = max(self.peak_kib, self.sample())
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=10)
        return self.peak_kib / 1024


def cpu_jiffies() -> tuple[int, int]:
    """Machine-wide (all, steal) CPU time from /proc/stat. The steal share
    over a run tells a run slowed by other guests of a shared host from one
    slowed by the program."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, the gateway JVM and every process it started; wait for
    each to end."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


def env_record(spark) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    src = os.path.join(ROOT, "neural_search_spark")
    h = hashlib.sha256()
    for r, dirs, files in sorted(os.walk(src)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(r, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    try:
        top = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10).stdout.split()
        commit = top[1] if len(top) == 2 and os.path.samefile(top[0], ROOT) else None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "python": sys.version.split()[0],
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__, "pandas": pandas.__version__,
        "git_commit": commit or "unknown (not a git checkout)",
        "engine_sha256": h.hexdigest()[:16],
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(WORK_ROOT, tag)
    runs = os.path.join(WORK_ROOT, "runs")
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(runs, exist_ok=True)
    # everything Spark, the JVM and Python workers write stays in the work dir
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_DRIVER_MEMORY": HEAP,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    sys.path.insert(0, ROOT)
    from neural_search_spark.session import get_spark  # fails outside a full checkout

    import probes
    import workloads
    from tracing import Tracer

    tracer = Tracer(args.trace == 1)
    sampler = RssSampler()
    sampler.start()
    cpu0 = cpu_jiffies()
    nproc = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    with tracer.span("get_spark", "session", "setup"):
        spark = get_spark(
            "perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    # The traced run sends one whole cycle of requests, not --seconds of
    # them: a fixed amount of work, so each layer's self time moves with
    # that layer's speed and not with the run length.
    b = workloads.Bench(spark=spark, work=work, seed=args.seed,
                        seconds=0 if args.trace else args.seconds,
                        tracer=tracer, perturb=args.perturb,
                        sizes=workloads.TINY if args.scale == "tiny" else workloads.FULL)
    try:
        workloads.WORKLOADS[args.workload](b, session_s)
        b.e2e["peak_rss_mb"] = sampler.stop()
        cpu1 = cpu_jiffies()
        b.info["cpu_steal_share"] = (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1)
        layer = probes.run_probes(b, args.workload, session_s) if args.trace else {}
        env = env_record(spark)
    finally:
        sampler.stop()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layer.items())}
        tracer.dump(os.path.join(runs, f"{tag}-spans.json"))
    else:
        metrics = {k: {"value": b.e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "scale": args.scale, "env": env, "info": b.info,
              "end_to_end": b.e2e, "per_layer": layer,
              "attempted": b.attempted, "failed": b.failed}
    with open(os.path.join(runs, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"env {json.dumps(env)}")
    print(f"workload {args.workload} seed {args.seed} scale {args.scale} "
          f"trace {args.trace} samples {b.info.get('samples')}")
    if not args.trace:  # end-to-end numbers only from untraced runs
        for k, u in E2E_UNITS.items():
            print(f"  {k:34s} {b.e2e[k]:14.6g} {u}")
        for k in ("build_docs_per_s", "append_docs_per_s", "msearch_qps", "msearch_batch_p50_s"):
            if k in b.info:
                print(f"  {k:34s} {b.info[k]:14.6g} {'s' if k.endswith('p50_s') else '1/s'}")
    print(f"  {'failed_frac':34s} {b.failed / max(b.attempted, 1):14.6g} ratio "
          f"({b.failed} of {b.attempted})")
    for k, v in sorted(layer.items()):
        print(f"  {k:34s} {v:14.6g} {layer_unit(k)}")
    print(json.dumps({"correct": b.failed == 0, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
