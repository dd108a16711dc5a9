"""Traced run: per-layer spans recorded from outside the library.

The tracer wraps the library's public layer functions under the names its
callers resolve them by (``core/lake.py`` imports ``plan_search``,
``collect_candidates_bounded``, ``read_candidates`` and
``file_row_counts`` by name, so those bindings are wrapped beside the
defining modules' own), plus the index classes' ``search``/``build``, the
catalog's ``commit_build``/``entries_for``, the Iceberg writer's commit,
``IcebergWritableLake.append``, ``bm25_topk`` and ``knn_topk``. Nothing in
the library is edited; ``installed()`` restores every binding on exit.

Spans (name, start, end, parent, operation id) are kept in memory and
summarised by ``report`` at the end of the run.

Which span owns which Spark job. Every span sets its own job group on the
calling thread while it is open, so a job carries the group of the
innermost span open on the thread that submitted it. Spark is lazy:

- ``search`` returns an unevaluated frame, so the jobs that evaluate the
  probe's candidate frame run inside ``collect`` (the probe span owns only
  the jobs its own ``search`` call runs, such as the substring df pass);
- ``read_candidates`` only plans the fetch. Its span stays open, without
  owning the thread, until the caller's final action ends, and the final
  action's jobs are given to it (``fetch_refine``). ``bm25_topk`` and
  ``knn_topk`` spans, whose frames the final action also evaluates, stay
  open too; when such a span opened a ``fetch_refine`` child, that child
  is the innermost deferred span and takes the final action's jobs;
- a final action that follows no ``read_candidates`` (a BRUTE_FORCE escape,
  a threshold fallback, an in-situ-only plan) gets its own ``scan_refine``
  span;
- jobs submitted from the library's own worker threads carry no group; each
  is given to the innermost span open when it was submitted.

Job ids per span are read back through ``statusTracker`` after each
operation; executor CPU, input and shuffle bytes and task counts come from
the event log, which the benchmark enables only in a traced run.

``core.refine.refine_yield`` counts only ``fetch_refine`` spans that
``lake.search`` opened (not those inside a top-K search, whose output is K
rows by construction), and of their output only the rows whose
``request_id`` lies in a fetched unit: rows the same action scanned in
situ from unindexed files were never fetched.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"
#: the benchmark's row identity column, present in every search output
ID_COL = "request_id"

#: (module, attribute, span) — module-level bindings
FUNCTIONS = [
    ("rottnest_spark.core.lake", "plan_search", "plan"),
    ("rottnest_spark.core.planner", "plan_search", "plan"),
    ("rottnest_spark.core.lake", "unindexed_files", "unindexed"),
    ("rottnest_spark.core.planner", "unindexed_files", "unindexed"),
    ("rottnest_spark.core.lake", "collect_candidates_bounded", "collect"),
    ("rottnest_spark.core.refine", "collect_candidates_bounded", "collect"),
    ("rottnest_spark.core.lake", "read_candidates", "fetch_refine"),
    ("rottnest_spark.core.refine", "read_candidates", "fetch_refine"),
    ("rottnest_spark.core.lake", "file_row_counts", "row_counts"),
    ("rottnest_spark.core.layout", "file_row_counts", "row_counts"),
    ("rottnest_spark.sources.iceberg_write", "iceberg_commit_retry", "iceberg_commit"),
    ("rottnest_spark.indices.bm25", "bm25_topk", "bm25_topk"),
    ("rottnest_spark.indices.vector", "knn_topk", "knn_topk"),
]
#: (module, class, method, span)
METHODS = [
    ("rottnest_spark.indices.exact", "ExactIndex", "search", "probe"),
    ("rottnest_spark.indices.substring", "SubstringIndex", "search", "probe"),
    ("rottnest_spark.indices.bm25", "BM25Index", "search_tokens", "probe"),
    ("rottnest_spark.indices.vector", "VectorIndex", "search", "probe"),
    ("rottnest_spark.indices.exact", "ExactIndex", "build", "build.exact"),
    ("rottnest_spark.indices.substring", "SubstringIndex", "build", "build.substring"),
    ("rottnest_spark.indices.bm25", "BM25Index", "build", "build.bm25"),
    ("rottnest_spark.indices.vector", "VectorIndex", "build", "build.vector"),
    ("rottnest_spark.core.catalog", "IndexCatalog", "commit_build", "catalog_commit"),
    ("rottnest_spark.core.catalog", "IndexCatalog", "entries_for", "catalog_entries"),
    ("rottnest_spark.sources.writable", "IcebergWritableLake", "append", "append"),
]
#: spans whose frames are evaluated by the caller's final action
DEFERRED = {"fetch_refine", "bm25_topk", "knn_topk"}
#: span families reported with Spark-side job metrics
SPARK_SPANS = {
    "probe": ("probe",),
    "collect": ("collect",),
    "fetch_refine": ("fetch_refine",),
    "build": ("build.exact", "build.substring", "build.bm25", "build.vector"),
    "commit": ("catalog_commit", "iceberg_commit"),
}
SPARK_FIELDS = ("executor_cpu_ms", "input_bytes", "shuffle_bytes", "tasks", "driver_gap_ms")


class NullTracer:
    """Untraced runs: no spans, the final action is just evaluated."""

    def op(self, name):
        return contextlib.nullcontext()

    def installed(self):
        return contextlib.nullcontext()

    def collect(self, df):
        return df.toArrow()


NULL = NullTracer()


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    op: int
    end: float | None = None
    attrs: dict = field(default_factory=dict)
    jobs: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.id}"


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's self time: its duration minus the part of it that its
    child spans cover (children may overlap each other)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - union_length(clipped(kids[s.id], s.start, s.end))
        for s in spans
    }


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.root: Span | None = None
        self.deferred: list[Span] = []
        self.units: dict[str, list[int]] = {}  # file -> rows per row group

    # -- spans -----------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self) -> None:
        stack = self._stack()
        top = stack[-1] if stack else None
        if top is None and threading.current_thread() is threading.main_thread():
            top = self.root
        self.sc.setLocalProperty("spark.jobGroup.id", top.group if top else None)

    def open(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        sp = Span(next(self._ids), name, time.time(), parent.id if parent else None,
                  self.root.op if self.root else 0)
        with self._lock:
            self.spans.append(sp)
        stack.append(sp)
        self._set_group()
        return sp

    def close(self, sp: Span, keep_open: bool = False) -> None:
        stack = self._stack()
        stack.remove(sp)
        if keep_open:
            self.deferred.append(sp)
        else:
            sp.end = time.time()
        self._set_group()

    @contextlib.contextmanager
    def op(self, name: str):
        """Root span of one closed-loop operation: the parent of every span
        opened on any thread until it ends."""
        root = Span(next(self._ids), f"op:{name}", time.time(), None, next(self._ops))
        with self._lock:
            self.spans.append(root)
        self.root = root
        self._set_group()
        try:
            yield root
        finally:
            for sp in self.deferred:  # a failed op never reached its action
                sp.end = time.time()
            self.deferred = []
            root.end = time.time()
            self.root = None
            self._set_group()
            st = self.sc.statusTracker()
            for sp in self.spans:
                if sp.op == root.op:
                    sp.jobs = list(st.getJobIdsForGroup(sp.group))

    def collect(self, df):
        """The caller's final action. It ends every deferred span, and its
        jobs go to the innermost of them (or to a new scan_refine span when
        none is deferred)."""
        stack = self._stack()
        if self.deferred:
            owners = self.deferred
            # the one opened last is the innermost: a deferred span opened
            # while another is pending (fetch_refine in bm25_topk) nests in it
            owner = max(owners, key=lambda sp: sp.id)
            stack.append(owner)
            self._set_group()
        else:
            owners = [self.open("scan_refine")]
            owner = owners[0]
        tbl = None
        try:
            tbl = df.toArrow()
            return tbl
        finally:
            stack.remove(owner)
            for sp in owners:
                sp.end = time.time()
                if sp.name == "fetch_refine" and tbl is not None:
                    sp.attrs["ids_out"] = tbl.column(ID_COL)
            self.deferred = []
            self._set_group()

    # -- wrappers ----------------------------------------------------------------

    def _ids_in(self, f: str, rg: int) -> set[str]:
        """Row ids of one candidate unit (rg < 0: the whole file)."""
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(f)
        tbl = pf.read(columns=[ID_COL]) if rg < 0 else pf.read_row_group(rg, columns=[ID_COL])
        return set(tbl.column(ID_COL).to_pylist())

    def _units_of(self, f: str) -> list[int]:
        if f not in self.units:
            import pyarrow.parquet as pq

            md = pq.ParquetFile(f).metadata
            self.units[f] = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
        return self.units[f]

    def _observe(self, name: str, args, kwargs, res, sp: Span) -> None:
        from rottnest_spark.indices.base import BRUTE_FORCE

        if name == "plan":
            sp.attrs["unindexed"] = len(res.unindexed_files)
        elif name == "unindexed":
            sp.attrs["unindexed"] = len(res)
        elif name == "probe":
            sp.attrs["brute_force"] = isinstance(res, str) and res == BRUTE_FORCE
        elif name == "collect":
            covered = args[2] if len(args) > 2 else kwargs["covered"]
            total = sum(len(self._units_of(f)) for f in covered)
            if res is None:
                sp.attrs["fallback"] = True
            else:
                n = sum(len(self._units_of(f)) if rg < 0 else 1 for f, rg in res)
                sp.attrs["unit_ratio"] = n / total if total else 0.0
        elif name == "fetch_refine":
            cands = args[1] if len(args) > 1 else kwargs["candidates"]
            sp.attrs["cands"] = list(cands)
            sp.attrs["rows_fetched"] = sum(
                sum(self._units_of(f)) if rg < 0 else self._units_of(f)[rg]
                for f, rg in cands
            )
        elif name == "catalog_entries":
            sp.attrs["entries"] = len(res)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = tracer.open(name)
            try:
                res = fn(*args, **kwargs)
            except BaseException:
                tracer.close(sp)
                raise
            tracer._observe(name, args, kwargs, res, sp)
            tracer.close(sp, keep_open=name in DEFERRED and tracer.root is not None)
            return res

        return traced

    @contextlib.contextmanager
    def installed(self):
        undo = []
        try:
            for mod, attr, name in FUNCTIONS:
                m = importlib.import_module(mod)
                orig = getattr(m, attr)
                setattr(m, attr, self._wrap(orig, name))
                undo.append((m, attr, orig, True))
            for mod, cls, meth, name in METHODS:
                c = getattr(importlib.import_module(mod), cls)
                had = meth in c.__dict__
                orig = c.__dict__[meth] if had else None
                setattr(c, meth, self._wrap(getattr(c, meth), name))
                undo.append((c, meth, orig, had))
            yield self
        finally:
            for obj, attr, orig, had in reversed(undo):
                if had:
                    setattr(obj, attr, orig)
                else:
                    delattr(obj, attr)

    # -- report ------------------------------------------------------------------

    def report(self, wl, traced: list[dict], untraced: list[dict], event_dir: str) -> dict:
        """Per-layer metrics of the traced operations (builds and commits
        also count the traced setup) and the tracing overhead: total time
        of the traced operations over their untraced twins."""
        jobs = read_event_log(event_dir)
        ops = {s.op for s in self.spans if s.name.startswith("op:") and s.name != "op:setup"}
        timed = [s for s in self.spans if s.op in ops]
        setup = [s for s in self.spans if s.op not in ops]
        n_ops = max(1, len(ops))
        by = defaultdict(list)
        for s in self.spans:
            by[s.name].append(s)
        owned = assign_jobs(self.spans, jobs)

        def mean(vals, default=0.0):
            vals = list(vals)
            return statistics.fmean(vals) if vals else default

        def ms(name, pool=None):
            return mean((s.end - s.start) * 1000 for s in (pool or by[name]))

        def njobs(name):
            return mean(len(owned[s.id]) for s in by[name])

        def attr(name, key, agg=mean):
            return agg(s.attrs[key] for s in by[name] if key in s.attrs)

        def per_op(name, key):
            return sum(1 for s in by[name] if s.op in ops and s.attrs.get(key)) / n_ops

        # refine yield of lake.search's fetches: output rows that came from
        # the fetched units, over the rows those units hold
        root_ids = {s.id for s in self.spans if s.name.startswith("op:")}
        fetch = [s for s in by["fetch_refine"]
                 if s.parent in root_ids and s.op in ops and "ids_out" in s.attrs]
        fetched = sum(s.attrs["rows_fetched"] for s in fetch)
        kept = sum(
            len(set(s.attrs["ids_out"].to_pylist())
                & set().union(*(self._ids_in(f, rg) for f, rg in s.attrs["cands"])))
            for s in fetch
        )
        m = {
            "core.planner.plan_ms": (ms("plan"), "ms"),
            "core.planner.unindexed_files": (attr("unindexed", "unindexed"), "count"),
            "indices.probe_ms": (ms("probe"), "ms"),
            "indices.probe_jobs": (njobs("probe"), "count"),
            "indices.brute_force_escapes": (per_op("probe", "brute_force"), "count"),
            "core.refine.collect_ms": (ms("collect"), "ms"),
            "core.refine.collect_jobs": (njobs("collect"), "count"),
            "core.refine.candidate_unit_ratio": (attr("collect", "unit_ratio"), "ratio"),
            "core.refine.threshold_fallbacks": (per_op("collect", "fallback"), "count"),
            "core.refine.fetch_refine_ms": (ms("fetch_refine"), "ms"),
            "core.refine.fetch_refine_jobs": (njobs("fetch_refine"), "count"),
            "core.refine.rows_fetched": (attr("fetch_refine", "rows_fetched"), "count"),
            "core.refine.refine_yield": (kept / fetched if fetched else 0.0, "ratio"),
            "core.lake.scan_refine_ms": (ms("scan_refine"), "ms"),
            "sources.reader.insitu_files": (
                mean(s.attrs["unindexed"] for s in by["plan"] if s.op in ops), "count"),
            "indices.bm25.topk_ms": (ms("bm25_topk"), "ms"),
            "indices.bm25.topk_jobs": (njobs("bm25_topk"), "count"),
            "indices.vector.topk_ms": (ms("knn_topk"), "ms"),
            "indices.vector.topk_jobs": (njobs("knn_topk"), "count"),
        }
        builds = [s for k in SPARK_SPANS["build"] for s in by[k]]
        for k in SPARK_SPANS["build"]:
            m[f"indices.build_ms.{k.split('.')[1]}"] = (ms(k), "ms")
        m["indices.build_jobs"] = (mean(len(owned[s.id]) for s in builds), "count")
        m["core.layout.row_count_ms"] = (ms("row_counts"), "ms")
        m["core.catalog.commit_ms"] = (ms("catalog_commit"), "ms")
        m["core.catalog.entries"] = (attr("catalog_entries", "entries"), "count")
        m["sources.writable.append_ms"] = (ms("append"), "ms")
        m["sources.iceberg_write.commit_ms"] = (ms("iceberg_commit"), "ms")
        snaps, meta_bytes = iceberg_state(getattr(wl, "table", None))
        m["sources.iceberg.snapshots"] = (snaps, "count")
        m["sources.iceberg.metadata_bytes"] = (meta_bytes, "bytes")
        for fam, names in SPARK_SPANS.items():
            spans = [s for n in names for s in by[n]]
            agg = spark_figures(spans, owned, jobs)
            for f in SPARK_FIELDS:
                m[f"spark.{fam}.{f}"] = (agg[f], "ms" if f.endswith("_ms") else
                                         "bytes" if f.endswith("bytes") else "count")
        # self time per query, by layer: the blocking-path attribution
        st = self_times([s for s in timed])
        layer_self = defaultdict(float)
        for s in timed:
            layer_self[layer_of(s.name)] += st[s.id]
        for layer in LAYERS:
            m[f"self_ms.{layer}"] = (layer_self[layer] * 1000 / n_ops, "ms")
        roots = [s for s in timed if s.name.startswith("op:")]
        m["query.jobs"] = (mean(len(owned[s.id]) for s in roots), "count")
        u = sum(r["s"] for r in untraced)
        t = sum(r["s"] for r in traced)
        m["trace.overhead_pct"] = ((t / u - 1) * 100 if u else 0.0, "%")
        self.summary = {
            "dominant_layer": max(LAYERS, key=lambda k: layer_self[k]),
            "self_ms_per_query": {k: round(layer_self[k] * 1000 / n_ops, 1) for k in LAYERS},
            "job_time_share": round(job_share(timed, owned, jobs), 3),
            "setup_spans": len(setup),
        }
        return {k: {"value": float(v), "unit": unit} for k, (v, unit) in m.items()}


#: layers for self-time attribution, in pipeline order; "op" is the
#: benchmark-side remainder (driver work between library calls)
LAYERS = ("op", "plan", "probe", "collect", "fetch_refine", "scan_refine",
          "bm25_topk", "knn_topk", "catalog")


def layer_of(name: str) -> str:
    if name.startswith("op:"):
        return "op"
    if name.startswith("catalog") or name in ("unindexed", "row_counts"):
        return "catalog"
    return name if name in LAYERS else "op"


@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    end: float
    stages: list[int]
    tasks: int = 0
    cpu_ms: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0


def read_event_log(event_dir: str) -> dict[int, Job]:
    """Jobs with their group, interval and summed stage metrics, parsed
    from an uncompressed, non-rolling Spark event log."""
    jobs: dict[int, Job] = {}
    stages = {}
    paths = [p for p in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(p)]
    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    t = e["Submission Time"] / 1000.0
                    jobs[e["Job ID"]] = Job(e["Job ID"], props.get("spark.jobGroup.id"),
                                            t, t, list(e.get("Stage IDs", [])))
                elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    acc = {a["Name"]: a.get("Value") for a in si.get("Accumulables", [])}

                    def num(k):
                        try:
                            return int(acc.get(k) or 0)
                        except (TypeError, ValueError):
                            return 0

                    stages[si["Stage ID"]] = (
                        (si.get("Completion Time") or 0) / 1000.0,
                        si.get("Number of Tasks", 0),
                        num("internal.metrics.executorCpuTime") / 1e6,
                        num("internal.metrics.input.bytesRead"),
                        num("internal.metrics.shuffle.read.remoteBytesRead")
                        + num("internal.metrics.shuffle.read.localBytesRead")
                        + num("internal.metrics.shuffle.write.bytesWritten"),
                    )
    # a stage listed by several jobs (reused shuffle output) ran in the one
    # whose interval holds its completion
    for sid, (done, tasks, cpu, inp, shuf) in stages.items():
        owners = [j for j in jobs.values() if sid in j.stages]
        inside = [j for j in owners if j.submit <= done <= j.end + 1e-3]
        j = (inside or owners or [None])[0]
        if j is not None:
            j.tasks += tasks
            j.cpu_ms += cpu
            j.input_bytes += inp
            j.shuffle_bytes += shuf
    return jobs


def assign_jobs(spans: list[Span], jobs: dict[int, Job]) -> dict[int, list[int]]:
    """Span id -> ids of the jobs it owns, its descendants' included. A job
    carrying a span's group (read back through statusTracker, or from the
    event log) is that span's; a job without one goes to the innermost
    span open at its submission."""
    by_group = {s.group: s for s in spans}
    direct: dict[int, set[int]] = defaultdict(set)
    for s in spans:
        direct[s.id].update(s.jobs)
    claimed = {j for js in direct.values() for j in js}
    for j in jobs.values():
        if j.id in claimed:
            continue
        if j.group in by_group:
            direct[by_group[j.group].id].add(j.id)
            continue
        open_at = [s for s in spans if s.end is not None and s.start <= j.submit <= s.end]
        if open_at:
            direct[max(open_at, key=lambda s: s.start).id].add(j.id)
    kids: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s.id)
    out: dict[int, list[int]] = {}

    def subtree(i: int) -> set[int]:
        if i not in out:
            acc = set(direct[i])
            for k in kids[i]:
                acc |= subtree(k)
            out[i] = sorted(acc)
        return set(out[i])

    for s in spans:
        subtree(s.id)
    return defaultdict(list, out)


def spark_figures(spans: list[Span], owned, jobs: dict[int, Job]) -> dict[str, float]:
    """Mean per span: executor CPU, input and shuffle bytes and tasks of
    its jobs, and its driver gap (wall time not covered by its jobs)."""
    if not spans:
        return {f: 0.0 for f in SPARK_FIELDS}
    acc = defaultdict(float)
    for s in spans:
        js = [jobs[j] for j in owned[s.id] if j in jobs]
        acc["executor_cpu_ms"] += sum(j.cpu_ms for j in js)
        acc["input_bytes"] += sum(j.input_bytes for j in js)
        acc["shuffle_bytes"] += sum(j.shuffle_bytes for j in js)
        acc["tasks"] += sum(j.tasks for j in js)
        covered = union_length(clipped([(j.submit, j.end) for j in js], s.start, s.end))
        acc["driver_gap_ms"] += (s.end - s.start - covered) * 1000
    return {f: acc[f] / len(spans) for f in SPARK_FIELDS}


def job_share(spans: list[Span], owned, jobs: dict[int, Job]) -> float:
    """Share of operation wall time during which one of its jobs ran."""
    roots = [s for s in spans if s.name.startswith("op:")]
    wall = sum(s.end - s.start for s in roots)
    inside = 0.0
    for r in roots:
        js = [jobs[j] for j in owned[r.id] if j in jobs]
        inside += union_length(clipped([(j.submit, j.end) for j in js], r.start, r.end))
    return inside / wall if wall else 0.0


def iceberg_state(table: str | None) -> tuple[int, int]:
    """Snapshot count of the current metadata file and total bytes of the
    table's metadata directory (0, 0 without an Iceberg table)."""
    if not table:
        return 0, 0
    meta = os.path.join(table, "metadata")
    files = glob.glob(os.path.join(meta, "*.metadata.json"))
    if not files:
        return 0, 0
    latest = max(files, key=lambda p: int(os.path.basename(p).split(".")[0].lstrip("v") or 0))
    with open(latest) as f:
        snaps = len(json.load(f).get("snapshots", []))
    size = sum(os.path.getsize(p) for p in glob.glob(os.path.join(meta, "*")))
    return snaps, size
