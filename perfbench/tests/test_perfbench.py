"""Tests of the benchmark's own parts: generator determinism by seed, the
oracles on a tiny lake (checked against DuckDB), the span self-time and
job-attribution arithmetic, and which span owns a final action. No Spark
session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen, trace  # noqa: E402


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    """A small lake: 2 files x 3 row groups x 50 rows, with a tail."""
    mp = pytest.MonkeyPatch()
    mp.setattr(gen, "LAKE_FILES", 2)
    mp.setattr(gen, "LAKE_ROW_GROUPS", 3)
    mp.setattr(gen, "RG_ROWS", 50)
    mp.setattr(gen, "LAKE_ROWS", 300)
    mp.setattr(gen, "TAIL_ROWS", 40)
    mp.setattr(gen, "DENSE_BAND", (0.0, 1.0))
    yield mp, tmp_path_factory
    mp.undo()


def test_same_seed_same_inputs(tiny):
    _, tmp = tiny
    a = gen.make_lake(7, str(tmp.mktemp("a")), for_scan=True)
    b = gen.make_lake(7, str(tmp.mktemp("b")), for_scan=True)
    assert _digest(a.files + [a.tail_file]) == _digest(b.files + [b.tail_file])
    assert [(q.text, q.expected) for q in gen.scan_queries(7, a, 6)] == [
        (q.text, q.expected) for q in gen.scan_queries(7, b, 6)
    ]
    a = gen.make_lake(7, str(tmp.mktemp("a2")))
    b = gen.make_lake(7, str(tmp.mktemp("b2")))
    assert _digest(a.files) == _digest(b.files)
    qa, qb = gen.lookup_queries(7, a, 12), gen.lookup_queries(7, b, 12)
    assert [(q.kind, q.text, q.expected) for q in qa] == [
        (q.kind, q.text, q.expected) for q in qb
    ]


def test_other_seed_other_inputs(tiny):
    _, tmp = tiny
    a = gen.make_lake(7, str(tmp.mktemp("c")))
    b = gen.make_lake(8, str(tmp.mktemp("d")))
    assert _digest(a.files) != _digest(b.files)


def test_lake_layout(tiny):
    import pyarrow.parquet as pq

    _, tmp = tiny
    lake = gen.make_lake(3, str(tmp.mktemp("e")))
    assert len(lake.files) == 2
    for f in lake.files:
        md = pq.ParquetFile(f).metadata
        assert md.num_row_groups == 3
        assert all(md.row_group(i).num_rows == 50 for i in range(3))
    assert len(set(lake.rows.ids)) == 300


def test_substring_and_exact_oracle_match_duckdb(tiny):
    duckdb = pytest.importorskip("duckdb")
    _, tmp = tiny
    lake = gen.make_lake(5, str(tmp.mktemp("f")), for_scan=True)
    con = duckdb.connect()
    files = ", ".join(f"'{f}'" for f in lake.files + [lake.tail_file])
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet([{files}])")
    for q in gen.scan_queries(5, lake, 10):
        if q.kind != "substring":
            continue
        want = sorted(r[0] for r in con.execute(
            "SELECT request_id FROM t WHERE contains(lower(msg), lower(?))", [q.text]
        ).fetchall())
        assert q.expected == want, q.text
    lake = gen.make_lake(5, str(tmp.mktemp("g")))
    base = ", ".join(f"'{f}'" for f in lake.files)
    con.execute(f"CREATE VIEW b AS SELECT * FROM read_parquet([{base}])")
    for q in gen.lookup_queries(5, lake, 12):
        if q.kind == "exact":
            sql = "SELECT request_id FROM b WHERE request_id = ?"
        elif q.kind == "substring":
            sql = "SELECT request_id FROM b WHERE contains(lower(msg), ?)"
        else:
            continue
        want = sorted(r[0] for r in con.execute(sql, [q.text]).fetchall())
        assert q.expected == want, q.text


def test_bm25_oracle_by_hand():
    """Three documents, hand-computed Okapi BM25 (k1=1.2, b=0.75)."""
    import numpy as np
    import pyarrow as pa

    msgs = ["alpha beta", "alpha alpha gamma", "delta"]
    t = pa.table({
        "request_id": ["a", "b", "c"],
        "msg": msgs,
        "embedding": pa.array([[0.0, 0.0], [3.0, 4.0], [1.0, 0.0]], pa.list_(pa.float32())),
    })
    mp = pytest.MonkeyPatch()
    mp.setattr(gen, "EMB_DIM", 2)
    try:
        rows = gen.Rows.of(t)
    finally:
        mp.undo()
    n, avg = 3, (2 + 3 + 1) / 3
    idf = math.log((n - 2 + 0.5) / (2 + 0.5) + 1)

    def part(tf, ln):
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * ln / avg))

    got = rows.bm25("Alpha")
    assert got == {"a": round(part(1, 2), 4), "b": round(part(2, 3), 4)}
    assert rows.l2([0.0, 0.0]) == {"a": 0.0, "b": 5.0, "c": 1.0}
    assert np.array_equal(rows.contains("ALPHA"), [0, 1])


def test_ranked_recall_counts_ties_at_the_cut():
    q = gen.Query("knn", None, "v", expected=[("a", 1.0), ("b", 2.0)],
                  scores={"a": 1.0, "b": 2.0, "c": 2.0, "d": 3.0})
    assert gen.ranked_recall(["a", "c"], q) == 1.0
    assert gen.ranked_recall(["a", "d"], q) == 0.5
    q = gen.Query("bm25", None, "w", expected=[("a", 9.0), ("b", 5.0)],
                  scores={"a": 9.0, "b": 5.0, "c": 5.0, "d": 1.0})
    assert gen.ranked_recall(["c", "a"], q) == 1.0
    assert gen.ranked_recall(["d", "a"], q) == 0.5


def test_union_length_merges_overlaps():
    assert trace.union_length([]) == 0.0
    assert trace.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert trace.union_length([(0, 10), (2, 3)]) == 10.0
    assert trace.clipped([(0, 5), (8, 9)], 2, 8.5) == [(2, 5), (8, 8.5)]


def _span(i, name, start, end, parent=None, jobs=()):
    return trace.Span(i, name, start, parent, op=1, end=end, jobs=list(jobs))


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(1, "op:q", 0.0, 10.0),
        _span(2, "probe", 1.0, 4.0, parent=1),
        _span(3, "collect", 3.0, 6.0, parent=1),  # overlaps probe by 1
        _span(4, "fetch_refine", 8.0, 12.0, parent=1),  # outlives its parent
        _span(5, "plan", 1.5, 2.0, parent=2),
    ]
    st = trace.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(4.0)
    assert st[5] == pytest.approx(0.5)


def test_jobs_go_to_group_owner_or_innermost_open_span():
    spans = [
        _span(1, "op:q", 0.0, 10.0, jobs=[1]),
        _span(2, "build.exact", 1.0, 5.0, parent=1, jobs=[2]),
        _span(3, "catalog_commit", 6.0, 7.0, parent=1),
    ]
    jobs = {
        1: trace.Job(1, "perfbench-1", 0.5, 0.9, []),
        2: trace.Job(2, "perfbench-2", 1.0, 2.0, []),
        3: trace.Job(3, None, 2.5, 4.5, []),  # library pool thread, no group
        4: trace.Job(4, "perfbench-3", 6.1, 6.2, []),  # only in the event log
    }
    owned = trace.assign_jobs(spans, jobs)
    assert owned[2] == [2, 3]
    assert owned[3] == [4]
    assert owned[1] == [1, 2, 3, 4]  # a span owns its descendants' jobs
    fig = trace.spark_figures([spans[1]], owned, jobs)
    # build span 1..5 s, jobs cover 1-2 and 2.5-4.5: gap 4 - 3 = 1 s
    assert fig["driver_gap_ms"] == pytest.approx(1000.0)


class _FakeSc:
    """The SparkContext calls the tracer makes, recording the job group."""

    def __init__(self):
        self.group = None

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.group = value

    def statusTracker(self):
        return self

    def getJobIdsForGroup(self, group):
        return []


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeSc()


def test_final_action_goes_to_innermost_deferred_span(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    part = str(tmp_path / "p.parquet")
    pq.write_table(pa.table({"request_id": ["a", "b", "c", "d"]}), part, row_group_size=2)
    spark = _FakeSpark()
    tracer = trace.Tracer(spark)
    read_candidates = tracer._wrap(lambda spark, cands: "frame", "fetch_refine")
    bm25_topk = tracer._wrap(lambda: read_candidates(None, [(part, 1)]), "bm25_topk")
    seen = []

    class Frame:
        def __init__(self, ids):
            self.ids = ids

        def toArrow(self):
            seen.append(spark.sparkContext.group)
            return pa.table({"request_id": self.ids})

    with tracer.op("rank"):
        bm25_topk()
        tracer.collect(Frame(["c"]))
    topk, fetch = [s for s in tracer.spans if s.name in ("bm25_topk", "fetch_refine")]
    assert fetch.parent == topk.id
    assert seen == [fetch.group]  # the child fetch, not the outer top-K span
    assert topk.end is not None and fetch.end is not None
    assert "ids_out" not in topk.attrs

    # lake.search's fetch (parent: the op root) of unit 0 = rows a, b; the
    # output's "x" came from an in-situ scan and does not count as refined
    with tracer.op("search"):
        read_candidates(None, [(part, 0)])
        tracer.collect(Frame(["a", "x"]))
    with tracer.op("search"):
        tracer.collect(Frame(["y"]))  # no fetch: its own scan_refine span
    assert seen[-1] == [s for s in tracer.spans if s.name == "scan_refine"][0].group
    m = tracer.report(None, [], [], str(tmp_path / "no-events"))
    assert m["core.refine.rows_fetched"]["value"] == 2.0
    assert m["core.refine.refine_yield"]["value"] == 0.5
