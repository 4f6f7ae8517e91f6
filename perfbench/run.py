"""Crawl + curation benchmark: one command, three closed-loop workloads.

    python3 perfbench/run.py --workload {bulk_round,deep_crawl,curate_freeze} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Builds the workload's inputs from the
seed, starts one Spark session on ``local[min(4, nproc)]``, warms up, then
runs rounds (or freezes) back to back for ``--seconds``, each starting only
after the previous one committed.  Every round's output is checked against
a reference.  The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``).  See README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bulk_round", "deep_crawl", "curate_freeze")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ---------------------------------------------------------------------------
# host-side measurements


def steal_ticks() -> int:
    """Cumulative steal ticks of all CPUs (/proc/stat, USER_HZ units)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def _proc_kb(path: str, field: str) -> int:
    """A ``<field>: <n> kB`` line of a /proc file; 0 if the process is gone."""
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _python_descendants(root: int) -> list[int]:
    """Python processes below ``root``: the PySpark daemon and its workers.
    Other children (helpers the JVM forks for shell commands) briefly share
    the JVM's pages and are left out."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
        except (FileNotFoundError, ProcessLookupError):
            continue
        pid = int(entry)
        comm[pid] = head.split("(", 1)[1]
        children.setdefault(int(tail.split()[1]), []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        if comm[pid].startswith("python"):
            out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class MemorySampler:
    """Memory of the driver JVM and of its Python workers.

    Workers: the largest sum of the Python workers' proportional set
    sizes, sampled every ``period_s`` while a workload runs.  Workers are
    forked from one daemon and share its pages, so summing their RSS would
    count the shared interpreter once per worker alive at that instant;
    PSS splits shared pages among the sharers.

    JVM, reported apart: the heap still in use after a full collection at
    the end of the workload (what the driver retains: cached blocks,
    broadcasts, plans, anything leaked), and the peak of the non-heap pools
    (metaspace, code cache).  Neither the resident set nor the heap's peak
    is used: the collector sizes, touches and empties the heap adaptively,
    so both follow GC timing more than the program's data."""

    def __init__(self, spark, period_s: float = 0.25):
        self.jvm_pid = jvm_pid(spark)
        self._mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.period_s = period_s
        self.worker_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            kb = sum(_proc_kb(f"/proc/{p}/smaps_rollup", "Pss")
                     for p in _python_descendants(self.jvm_pid))
            self.worker_peak_kb = max(self.worker_peak_kb, kb)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def worker_mb(self) -> float:
        return self.worker_peak_kb / 1024.0

    def live_heap_mb(self) -> float:
        """Heap used after full collections (System.gc() is a full,
        stop-the-world collection under G1, the JVM's default).  Spark's
        context cleaner releases shuffle and broadcast state only after a
        collection has cleared its weak references, so the heap is read
        after the third of three collections a second apart (the first
        left 200 MB where the later ones left 75)."""
        gc.collect()  # drop Python-side references to JVM objects first
        mem = self._mf.getMemoryMXBean()
        for i in range(3):
            if i:
                time.sleep(1)
            mem.gc()
        return mem.getHeapMemoryUsage().getUsed() / 2**20

    def non_heap_mb(self) -> float:
        return sum(
            p.getPeakUsage().getUsed() for p in self._mf.getMemoryPoolMXBeans()
            if p.getType().toString() != "Heap memory"
        ) / 2**20

    def jvm_rss_mb(self) -> float:
        return _proc_kb(f"/proc/{self.jvm_pid}/status", "VmHWM") / 1024.0


# ---------------------------------------------------------------------------
# Spark session


def build_session(work: str):
    """One local Spark session whose scratch space stays inside ``work``."""
    from pyspark.sql import SparkSession

    n = min(4, len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("spiders_for_all_spark-perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.driver.memory", "4g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "spark-warehouse"))
        # -UsePerfData keeps the JVM out of /tmp/hsperfdata_*
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM and Python workers to exit.  The
    gateway JVM exits when its stdin closes; the workers exit when the
    JVM does."""
    proc = spark.sparkContext._gateway.proc
    workers = _python_descendants(proc.pid)
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
        os.path.exists(f"/proc/{p}") for p in workers
    ):
        time.sleep(0.1)


# ---------------------------------------------------------------------------


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # the result line is the only thing this process writes to stdout:
    # everything else (Spark's JVM and Python workers included, which
    # inherit fd 1) goes to stderr
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    # imported after the path setup: a directory without the package fails
    # here, before anything is written or printed
    import spiders_for_all_spark  # noqa: F401

    from common import log

    if args.workload == "curate_freeze":
        import curate as workload
    else:
        import crawl as workload

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit's launcher JVM would write /tmp/hsperfdata_* (the driver
    # JVM gets the same flag in build_session)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    spans_out = os.path.join(HERE, ".work", f"spans-{args.workload}-{args.seed}.json")
    steal0, wall0 = steal_ticks(), time.monotonic()
    try:
        t_session = time.monotonic()
        spark = build_session(work)
        session_s = time.monotonic() - t_session
        log(f"session ready in {session_s:.2f}s")
        try:
            with MemorySampler(spark) as mem:
                res = workload.run(
                    spark, args.workload, work, args.seed, args.seconds,
                    bool(args.trace), session_s, spans_out,
                )
            if not args.trace:
                res.metrics.update(jvm_heap_mb=mem.live_heap_mb(),
                                   jvm_non_heap_mb=mem.non_heap_mb(),
                                   worker_mem_mb=mem.worker_mb())
            # the resident peak is a diagnostic only (see MemorySampler)
            res.diagnostic["jvm_resident_peak_mb"] = round(mem.jvm_rss_mb(), 1)
        finally:
            stop_session(spark)
            log("Spark stopped")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wall = time.monotonic() - wall0
    steal_s = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
    # host-noise stamp: a diagnostic beside the result, not a metric
    result_out.write("diagnostic " + json.dumps({
        "steal_s": round(steal_s, 3), "wall_s": round(wall, 3),
        "steal_cpus": round(steal_s / wall, 4),
        "samples_s": [round(x, 3) for x in res.samples],
        **res.diagnostic,
    }) + "\n")
    units = workload.LAYERS if args.trace else workload.E2E
    result_out.write(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": res.report(units),
    }) + "\n")
    result_out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
