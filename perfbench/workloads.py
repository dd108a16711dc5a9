"""The workloads: each is one client in a closed loop, issuing its next
operation only after the previous one returned.

A workload has four phases:

- ``prepare``: generate the lake, query pool and oracle answers (the
  benchmark's own work, not part of ``setup_s``);
- ``setup``: the initial index builds into a fresh index directory;
- ``finish_setup``: one-off work after the builds (``scan`` appends its
  unindexed tail here);
- ``ops``: the endless operation stream. Each ``Op.run`` is the timed call
  into the library plus the caller's final action; ``Op.check`` compares
  the output with the oracle, outside the timed region.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable, Iterator

from perfbench import gen


@dataclass
class Op:
    name: str
    run: Callable[[object], object]  # tracer -> result table
    # result -> (ok, recall@10); recall is None for unranked queries
    check: Callable[[object], tuple[bool, float | None]]
    ranked: bool = False


def _exact_check(expected: list[str]):
    def check(tbl) -> tuple[bool, None]:
        return sorted(tbl.column("request_id").to_pylist()) == expected, None

    return check


def _ranked_check(q: gen.Query, score_col: str):
    """Ranked answers are approximate in general: an answer is correct when
    it has K rows (or every scored row), each carrying its id's exact
    score, in library order. Recall is reported separately."""
    sign = -1 if q.kind == "bm25" else 1

    def check(tbl) -> tuple[bool, float]:
        ids = tbl.column("request_id").to_pylist()
        vals = tbl.column(score_col).to_pylist()
        ok = len(ids) == len(q.expected) and all(
            i in q.scores and abs(q.scores[i] - v) <= 2e-4 for i, v in zip(ids, vals)
        )
        key = [(sign * v, i) for i, v in zip(ids, vals)]
        return ok and key == sorted(key), gen.ranked_recall(ids, q)

    return check


def ivf_index():
    """(index, column) of the IVF top-10 queries: the VectorIndex
    parameters the entry points use."""
    from rottnest_spark.indices.vector import VectorIndex

    return VectorIndex(rows_per_centroid=64, nprobes=8), "embedding"


class Workload:
    name = ""
    #: query pools are fixed rotations of this many query types; a measured
    #: window holds whole rotations, so every run sees the same mix
    rotation = 1

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work

    def indexes(self) -> dict:
        """query kind -> (index, column)."""
        raise NotImplementedError

    def setup(self, spark, index_dir: str) -> None:
        """Build every index, one thread per index (build_index commits
        concurrent builds safely through the catalog)."""
        from concurrent.futures import ThreadPoolExecutor

        self.spark = spark
        self.lake = self.open_lake(spark, index_dir)
        self.idx = self.indexes()
        with ThreadPoolExecutor(len(self.idx)) as pool:
            builds = [pool.submit(self.lake.build_index, idx, col)
                      for idx, col in self.idx.values()]
            for b in builds:
                b.result()

    def finish_setup(self) -> None:
        pass

    def data_files(self) -> list[str]:
        return self.lake.files

    def query_op(self, q: gen.Query) -> Op:
        idx, col = self.idx[q.kind]
        lake = self.lake
        if q.kind in ("exact", "substring"):

            def run(tracer):
                return tracer.collect(lake.search(idx, col, q.text, columns=["request_id"]))

            return Op(f"{q.kind}:{q.family}", run, _exact_check(q.expected))

        from rottnest_spark.indices import bm25, vector

        mod, fn, score = (
            (bm25, "bm25_topk", "score") if q.kind == "bm25" else (vector, "knn_topk", "dist")
        )

        def run(tracer):
            # resolved per call, so a traced run reaches the wrapped binding
            topk = getattr(mod, fn)
            return tracer.collect(topk(lake, idx, col, q.text, gen.TOPK, "request_id"))

        return Op(f"{q.kind}:{q.family}", run, _ranked_check(q, score), ranked=True)

    def warmup_ops(self) -> list[Op]:
        """One rotation, so every query path has run once before timing."""
        return [self.query_op(q) for q in self.queries[: self.rotation]]

    def ops(self) -> Iterator[Op]:
        i = 0
        while True:
            yield self.query_op(self.queries[i % len(self.queries)])
            i += 1


class Lookup(Workload):
    """Selective searches over a fully indexed Parquet lake: exact request
    ids (row-group ExactIndex), rare-word substrings (row-group
    SubstringIndex), BM25 top-10 on rare words (BM25Index) and IVF top-10
    (VectorIndex with the entry points' parameters)."""

    name = "lookup"
    rotation = 4

    def prepare(self) -> None:
        self.data = gen.make_lake(self.seed, os.path.join(self.work, "lake"))
        self.queries = gen.lookup_queries(self.seed, self.data)

    def open_lake(self, spark, index_dir: str):
        from rottnest_spark import ParquetLake

        return ParquetLake(spark, list(self.data.files), index_dir)

    def indexes(self) -> dict:
        from rottnest_spark.indices.bm25 import BM25Index
        from rottnest_spark.indices.exact import ExactIndex
        from rottnest_spark.indices.substring import SubstringIndex

        return {
            "exact": (ExactIndex(granularity="row_group"), "request_id"),
            "substring": (SubstringIndex(granularity="row_group"), "msg"),
            "bm25": (BM25Index(), "msg"),
            "knn": ivf_index(),
        }


class Scan(Workload):
    """Unselective substring searches (row-group SubstringIndex) and IVF
    top-10 (VectorIndex) over an Iceberg table whose newest batch is
    appended after the index builds and stays unindexed, so every search
    also scans it in situ."""

    name = "scan"
    rotation = 4

    def prepare(self) -> None:
        from rottnest_spark.sources.iceberg_write import iceberg_convert

        self.data = gen.make_lake(self.seed, os.path.join(self.work, "lake"), for_scan=True)
        self.table = os.path.dirname(self.data.files[0])
        iceberg_convert(self.table)
        self.queries = gen.scan_queries(self.seed, self.data)

    def open_lake(self, spark, index_dir: str):
        from rottnest_spark.sources.writable import IcebergWritableLake

        return IcebergWritableLake(spark, self.table, index_dir)

    def indexes(self) -> dict:
        from rottnest_spark.indices.substring import SubstringIndex

        return {
            "substring": (SubstringIndex(granularity="row_group"), "msg"),
            "knn": ivf_index(),
        }

    def finish_setup(self) -> None:
        self.lake.append(self.spark.read.parquet(self.data.tail_file))


WORKLOADS = {w.name: w for w in (Lookup, Scan)}
