"""Lake-search benchmark: one workload, one process, one closed-loop client.

Usage, from the root of a checkout of the repository:

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

The run generates its inputs from ``--seed`` (outside every timed region),
starts a host-fitted Spark session on ``local[nproc]`` with the library's
own defaults, builds the workload's indexes, warms up, then measures for
``--seconds`` seconds of operation time. Every operation is checked against
an oracle computed with numpy/pyarrow. Progress and a human-readable report
go to stderr; the last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones listed in
BENCHMARK.json; with ``--trace 1`` the run measures an untraced pass, then
installs the layer wrappers of ``perfbench/trace.py`` and measures a traced
pass of equal length, and the metrics are the per-layer ones.

Everything the run writes goes under ``.perfbench_work/`` in the current
directory and is removed at exit. Exits non-zero, printing no result, when
the library cannot be imported from the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import trace as tracing  # noqa: E402

#: scratch space under the checkout root, removed at exit
WORK_DIR = ".perfbench_work"
#: library knobs read from the environment, cleared so every run sees the
#: library's defaults whatever the caller's shell exports
LIBRARY_ENV = (
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SHUFFLE",
    "SPARK_GRAFT_DRIVER_JAVA_OPTS",
    "ROTTNEST_BUILD_GROUP_PARALLELISM",
    "ROTTNEST_SPARK_INDEX_CACHE",
    "PYSPARK_SUBMIT_ARGS",
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """A quarter of physical memory, at most 2 GiB: well below the host,
    which also runs the Python workers and the OS page cache, and shares
    its memory with other tenants. The lakes are a few MiB."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return int(min(2048, phys // 4))


def configure_env(work: str, trace: bool) -> None:
    """Point Spark, the JVM and Python at scratch space under `work`, size
    the driver heap, and, in a traced run only, enable the event log."""
    for k in LIBRARY_ENV:
        os.environ.pop(k, None)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_heap_mb()}m"
    # loopback only, whatever the host's interfaces and name resolution
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["SPARK_LOCAL_HOSTNAME"] = "localhost"
    # quoted twice: once for the shell-like split of PYSPARK_SUBMIT_ARGS,
    # once for spark-submit's split of the java options, so a checkout
    # path holding spaces stays one argument
    q = shlex.quote
    submit = [
        f"--driver-java-options {q(f'-Djava.io.tmpdir={q(tmp)} -XX:-UsePerfData')}",
        f"--conf {q('spark.sql.warehouse.dir=' + os.path.join(work, 'warehouse'))}",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        ev = os.path.join(work, "events")
        os.makedirs(ev, exist_ok=True)
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf {q('spark.eventLog.dir=' + pathlib.Path(ev).as_uri())}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM and its
    Python workers), sampled from /proc every 200 ms."""

    def __init__(self, pid: int):
        self.pid = pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    @staticmethod
    def _children(pid: int) -> list[int]:
        out = []
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out += [int(c) for c in f.read().split()]
        except OSError:
            pass
        return out

    def sample(self) -> None:
        total, todo = 0, [self.pid]
        while todo:
            p = todo.pop()
            total += self._rss_kb(p)
            todo += self._children(p)
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(0.2):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            total += os.path.getsize(os.path.join(dp, fn))
    return total


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 100])."""
    s = sorted(values)
    return s[max(0, -(-len(s) * q // 100) - 1)] if s else float("nan")


def run_one(op, tracer) -> dict:
    """One timed operation; its check runs outside the timing."""
    err = None
    with tracer.op(op.name):
        t0 = time.perf_counter()
        try:
            res = op.run(tracer)
        except Exception as exc:  # counted as a failed operation
            res, err = None, exc
        dt = time.perf_counter() - t0
    if err:
        ok, recall = False, (0.0 if op.ranked else None)
    else:
        ok, recall = op.check(res)
    if not ok:
        log(f"FAILED {op.name}: {err!r}")
    return {"op": op.name, "s": dt, "ok": ok, "recall": recall,
            "error": repr(err) if err else None}


def run_ops(ops, tracer, seconds: float, records: list[dict], rotation: int = 1) -> float:
    """Drive the closed loop until at least `seconds` of operation time
    have been measured over whole rotations; returns the measured time."""
    measured = 0.0
    for op in ops:
        records.append(run_one(op, tracer))
        measured += records[-1]["s"]
        if measured >= seconds and len(records) % rotation == 0:
            break
    return measured


def run_paired(ops, tracer, seconds: float, plain: list[dict], traced: list[dict],
               rotation: int) -> float:
    """Traced run: each operation runs twice in a row, untraced and traced,
    alternating which goes first, until `seconds` of traced time have been
    measured over whole rotations. The pairs give the tracing overhead on
    identical work."""
    measured = 0.0
    for i, op in enumerate(ops, 1):
        for with_trace in ((False, True) if i % 2 == 0 else (True, False)):
            if with_trace:
                with tracer.installed():
                    traced.append(run_one(op, tracer))
                measured += traced[-1]["s"]
            else:
                plain.append(run_one(op, tracing.NULL))
        if measured >= seconds and i % rotation == 0:
            break
    return sum(r["s"] for r in plain)


def e2e_metrics(records: list[dict], measured: float, setup_s: float,
                index_bytes: int, data_bytes: int) -> dict:
    """The end-to-end metrics BENCHMARK.json bounds."""
    m = {
        "setup_s": (setup_s, "s"),
        "query_p50_ms": (statistics.median(r["s"] * 1000 for r in records), "ms"),
        "queries_per_s": (len(records) / measured, "1/s"),
        # ranked queries only: exact and substring answers carry no recall
        "recall_at_10": (statistics.fmean(
            r["recall"] for r in records if r["recall"] is not None), "ratio"),
        "index_bytes_per_data_byte": (index_bytes / data_bytes, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import rottnest_spark  # noqa: F401  (the program under test)
    except ImportError as exc:
        print(f"[perfbench] cannot import the library from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"[perfbench] unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        configure_env(work, bool(args.trace))
        wl = WORKLOADS[args.workload](args.seed, os.path.join(work, "data"))
        t = time.perf_counter()
        wl.prepare()
        log(f"generated inputs in {time.perf_counter() - t:.2f}s")

        from rottnest_spark import get_spark

        t = time.perf_counter()
        spark = get_spark("perfbench", cpus=host_cpus())
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        rss = RssSampler(spark.sparkContext._gateway.proc.pid).start()
        tracer = tracing.Tracer(spark) if args.trace else tracing.NULL

        # a traced run also traces its setup, for the build and commit layers
        t = time.perf_counter()
        with tracer.installed(), tracer.op("setup"):
            wl.setup(spark, os.path.join(work, "index"))
            wl.finish_setup()
        build_s = time.perf_counter() - t
        warm: list[dict] = []
        t = time.perf_counter()
        run_ops(wl.warmup_ops(), tracing.NULL, float("inf"), warm)
        warm_s = time.perf_counter() - t
        setup_s = session_s + build_s + warm_s
        log(f"setup: session {session_s:.2f}s builds {build_s:.2f}s warmup {warm_s:.2f}s")

        timed: list[dict] = []
        traced: list[dict] = []
        if args.trace:
            measured = run_paired(wl.ops(), tracer, args.seconds, timed, traced,
                                  wl.rotation)
        else:
            measured = run_ops(wl.ops(), tracing.NULL, args.seconds, timed, wl.rotation)
        index_bytes = dir_bytes(wl.lake.index_dir)
        data_bytes = sum(os.path.getsize(f) for f in wl.data_files())
        peak = rss.stop()
        e2e = e2e_metrics(timed, measured, setup_s, index_bytes, data_bytes)
        records = warm + timed + traced
        failed = [r for r in records if not r["ok"]]
        # reported, not bounded: with under twenty samples a p95 is the
        # window's maximum, and peak RSS follows JVM heap growth and the
        # Python worker count rather than the workload
        report = {k: v["value"] for k, v in e2e.items()}
        report.update(query_p95_ms=percentile([r["s"] * 1000 for r in timed], 95),
                      peak_rss_mb=peak, query_samples=len(timed),
                      error_rate=len(failed) / len(records))
        by_op: dict[str, list[float]] = {}
        for r in timed:
            by_op.setdefault(r["op"], []).append(round(r["s"] * 1000))
        report["ms_by_query_type"] = by_op
        log("end-to-end " + json.dumps(report))
        metrics = e2e
        if args.trace:
            stop_session(spark)
            spark = None
            metrics = tracer.report(wl, traced, timed, os.path.join(work, "events"))
            log("trace " + json.dumps(tracer.summary))
        result = {"correct": not failed, "attempted": len(records),
                  "failed": len(failed), "metrics": metrics}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
