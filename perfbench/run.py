"""Benchmark entry point.

    python3 perfbench/run.py --workload {bulk,serve} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Builds its inputs from the seed, starts
a local Spark session with one task slot per core, runs the workload,
checks the answers, stops every process it started, and prints one
JSON line last: end-to-end metrics with ``--trace 0``, per-layer
metrics from a span trace with ``--trace 1``. Everything it writes
goes under ``.perfbench_work/`` in the repository root. See
perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

if __name__ == "__main__" and os.environ.get("PYTHONHASHSEED") != "0":
    # one string-hash seed for the driver and every Python worker, so
    # set and dict orders (and the work they imply) repeat run to run
    os.environ["PYTHONHASHSEED"] = "0"
    os.execv(sys.executable, [sys.executable] + sys.argv)

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.workloads import WORKLOADS, median, tail  # noqa: E402

# metric name -> unit, as BENCHMARK.json declares them
_SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
E2E = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


_PAGE = os.sysconf("SC_PAGE_SIZE")


class TreeRss(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (driver, JVM, Python workers), sampled every 250 ms. Python
    processes count their proportional set size, so pages a forked
    worker shares with the worker daemon count once across the tree;
    the JVM, which shares next to nothing, counts its RSS, which is
    much cheaper to read."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()

    @staticmethod
    def _children(pid: int):
        try:
            tasks = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return []
        kids = []
        for t in tasks:
            try:
                with open(f"/proc/{pid}/task/{t}/children") as fh:
                    kids.extend(int(x) for x in fh.read().split())
            except OSError:
                pass
        return kids

    @classmethod
    def descendants(cls, pid: int):
        out, todo = [], cls._children(pid)
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(cls._children(p))
        return out

    @staticmethod
    def _resident(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                jvm = fh.read().strip() == "java"
            if jvm:
                with open(f"/proc/{pid}/statm") as fh:
                    return int(fh.read().split()[1]) * _PAGE
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except (OSError, IndexError, ValueError):
            pass
        return 0

    def run(self):
        me = os.getpid()
        while not self._halt.is_set():
            pids = [me] + self.descendants(me)
            total = sum(self._resident(p) for p in pids)
            self.peak = max(self.peak, total)
            self._halt.wait(0.25)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak / 2**20


def _environment(work: Path) -> None:
    """Python workers must import the package whatever the caller's
    working directory; scratch space stays inside the work dir."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the JVM spark-submit starts to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")


def _start_spark(work: Path, nproc: int, trace: bool):
    from bm25_chroma_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
            f"-Dderby.system.home={work / 'derby'}"
        ),
    }
    if trace:
        (work / "events").mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        "perfbench", cores=nproc, shuffle_partitions=nproc, extra_conf=conf
    )


def _stop_spark(spark, trace: bool) -> None:
    """End the JVM and the Python worker daemon and wait until no
    process this run started is left. A traced run stops the session
    first, which flushes the event log; an untraced run needs nothing
    from a graceful stop and kills the JVM directly, which saves the
    seconds a graceful shutdown takes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if trace or proc is None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if trace:
            proc.stdin.close()  # the JVM exits when its stdin closes
        else:
            proc.kill()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    # the Python worker daemon outlives the JVM briefly; end it too
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        for pid in TreeRss.descendants(os.getpid()):
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.time() + grace
        while TreeRss.descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import bm25_chroma_spark  # noqa: F401  (fail fast outside a checkout)
    from perfbench.trace import Recorder

    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _environment(work)
    nproc = len(os.sched_getaffinity(0))
    from perfbench.workloads import Ctx

    phases = {}

    def start_spark():
        t0 = time.perf_counter()
        spark = _start_spark(work, nproc, bool(args.trace))
        phases["spark_start"] = time.perf_counter() - t0
        return spark

    rec = Recorder(enabled=bool(args.trace))
    ctx = Ctx(work, args.seed, args.seconds, nproc, rec, start_spark)
    rss = TreeRss()
    rss.start()
    try:
        rec.active = True
        t0 = time.perf_counter()
        res = WORKLOADS[args.workload](ctx)
        phases["workload"] = (time.perf_counter() - t0
                              - phases.get("spark_start", 0.0))
        rec.uninstall()
    finally:
        t0 = time.perf_counter()
        if ctx.session is not None:
            _stop_spark(ctx.session, bool(args.trace))
        peak_mb = rss.stop()
        phases["spark_stop"] = time.perf_counter() - t0

    value, pct, n = tail(res.op_ms)
    e2e = {
        # session start (once) plus the median input set-up
        "setup_s": phases["spark_start"] + res.setup_s,
        "op_p50_ms": median(res.op_ms),
        "op_tail_ms": value,
        "work_per_s": res.work_per_s,
        "bytes_per_doc": res.bytes_per_doc,
        "peak_rss_mb": peak_mb,
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "local_cores": nproc, "inputs": res.digests,
        "op_tail_pct": pct, "ops": n,
        "failed_frac": res.failed / max(res.attempted, 1),
        "setup_s": e2e["setup_s"], "input_setup_s": res.setup_s,
        "peak_rss_mb": peak_mb,
        "op_ms": [round(x, 1) for x in res.op_ms], **res.detail,
        "phase_s": {**phases, **res.phase_s},
    }
    if args.trace:
        metrics = rec.layer_metrics(
            work / "events",
            base / "traces" / f"{args.workload}-s{args.seed}.json",
        )
        detail["traced_end_to_end"] = e2e
        units = PER_LAYER
    else:
        metrics = e2e
        units = E2E
    # a metric whose every operation failed is NaN and left out; the
    # run then reports correct:false with its failed count
    out = {k: {"value": metrics[k], "unit": u} for k, u in units.items()
           if math.isfinite(metrics[k])}
    shutil.rmtree(work, ignore_errors=True)
    print("perfbench detail: " + json.dumps(detail, sort_keys=True))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
