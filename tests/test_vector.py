"""Vector index: exact KNN correctness, IVF recall@K, pruning, compaction."""

import pyspark.sql.functions as F
import pytest

from rottnest_spark import ParquetLake
from rottnest_spark.indices.vector import VectorIndex, knn_topk

K = 10


@pytest.fixture(scope="module")
def emb_lake(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("emb") / "lake")
    (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .repartition(4)
        .write.parquet(out)
    )
    return out


@pytest.fixture(scope="module")
def query_vec(spark, sf_dir):
    return [
        float(x)
        for x in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") == 0)
        .collect()[0]["embedding"]
    ]


def exact_knn_numpy(spark, emb_lake, q, k):
    import numpy as np

    rows = spark.read.parquet(emb_lake).select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=float)
    d = np.sqrt(((mat - np.array(q)) ** 2).sum(axis=1)).round(4)
    order = sorted(range(len(ids)), key=lambda i: (d[i], ids[i]))[:k]
    return [(int(ids[i]), float(d[i])) for i in order]


def test_exact_knn_matches_numpy(spark, emb_lake, query_vec, tmp_path):
    lake = ParquetLake(spark, emb_lake, str(tmp_path / "idx"))
    idx = VectorIndex()
    got = [
        (r["vec_id"], r["dist"])
        for r in knn_topk(lake, idx, "embedding", query_vec, K, "vec_id", exact=True).collect()
    ]
    assert got == exact_knn_numpy(spark, emb_lake, query_vec, K)


def test_ivf_recall(spark, emb_lake, query_vec, tmp_path):
    lake = ParquetLake(spark, emb_lake, str(tmp_path / "idx"))
    idx = VectorIndex(rows_per_centroid=32, nprobes=6)
    lake.build_index(idx, "embedding")
    got = {r["vec_id"] for r in knn_topk(lake, idx, "embedding", query_vec, K, "vec_id").collect()}
    want = {v for v, _ in exact_knn_numpy(spark, emb_lake, query_vec, K)}
    recall = len(got & want) / K
    assert recall >= 0.8, recall


def test_ivf_prunes_units(spark, emb_lake, query_vec, tmp_path):
    lake = ParquetLake(spark, emb_lake, str(tmp_path / "idx"))
    idx = VectorIndex(rows_per_centroid=16, nprobes=2)
    lake.build_index(idx, "embedding")
    entry = lake.catalog.entries_for("vector", "embedding")[0]
    n_cands = idx.search(spark, [entry["index_path"]], query_vec).count()
    # 4 lake files; nprobes=2 of ~30 centroids should not touch every file
    assert n_cands <= 4


def test_compaction_preserves_probe(spark, emb_lake, query_vec, tmp_path):
    lake = ParquetLake(spark, emb_lake, str(tmp_path / "idx"))
    idx = VectorIndex(rows_per_centroid=32, nprobes=6)
    lake.build_index(idx, "embedding", binpack_row_threshold=1)
    assert len(lake.catalog.entries_for("vector", "embedding")) > 1
    before = {r["vec_id"] for r in knn_topk(lake, idx, "embedding", query_vec, K, "vec_id").collect()}
    lake.compact_indices(idx, "embedding", row_threshold=10_000_000)
    assert len(lake.catalog.entries_for("vector", "embedding")) == 1
    after = {r["vec_id"] for r in knn_topk(lake, idx, "embedding", query_vec, K, "vec_id").collect()}
    assert before == after


@pytest.fixture(scope="module")
def bin_emb_lake(spark, sf_dir, tmp_path_factory):
    """The embeddings fixture with the vector column re-encoded as packed
    little-endian f32 BINARY (the reference's large_binary ingestion form,
    indices/vector_index.py:16-27)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = tbl.column("vec_id").to_pylist()
    vecs = tbl.column("embedding").to_pylist()
    blobs = [np.asarray(v, dtype="<f4").tobytes() for v in vecs]
    out_dir = tmp_path_factory.mktemp("bin_emb")
    out = str(out_dir / "lake")
    import os

    os.makedirs(out)
    pq.write_table(
        pa.table({"vec_id": ids, "embedding": blobs}),
        os.path.join(out, "embeddings.parquet"),
    )
    return out


def test_binary_vectors_exact_knn_identical(
    spark, emb_lake, bin_emb_lake, query_vec, tmp_path
):
    """Exact top-K from the binary-encoded lake == from the array lake
    (f32 reinterpret is lossless: fixture values are f32 to begin with)."""
    lake_b = ParquetLake(spark, bin_emb_lake, str(tmp_path / "idxb"))
    got = [
        (r["vec_id"], r["dist"])
        for r in knn_topk(
            lake_b, VectorIndex(), "embedding", query_vec, K, "vec_id",
            exact=True,
        ).collect()
    ]
    assert got == exact_knn_numpy(spark, emb_lake, query_vec, K)


def test_binary_vectors_ivf_identical_topk(
    spark, bin_emb_lake, emb_lake, query_vec, tmp_path
):
    """IVF built FROM the binary column returns the same top-K as IVF built
    from the equivalent array column (same seed, same data)."""
    lake_b = ParquetLake(spark, bin_emb_lake, str(tmp_path / "idxb"))
    lake_a = ParquetLake(spark, emb_lake, str(tmp_path / "idxa"))
    idx = VectorIndex(rows_per_centroid=32, nprobes=6)
    lake_b.build_index(idx, "embedding")
    lake_a.build_index(idx, "embedding")
    got_b = [
        (r["vec_id"], r["dist"])
        for r in knn_topk(lake_b, idx, "embedding", query_vec, K, "vec_id").collect()
    ]
    got_a = [
        (r["vec_id"], r["dist"])
        for r in knn_topk(lake_a, idx, "embedding", query_vec, K, "vec_id").collect()
    ]
    assert got_b == got_a and len(got_b) == K


def test_binary_vectors_pq_path(spark, bin_emb_lake, query_vec, tmp_path):
    """The 3-stage PQ path must also accept binary vectors (codes built via
    the decoded rows, refine fetch reranks decoded fp32)."""
    lake_b = ParquetLake(spark, bin_emb_lake, str(tmp_path / "idxb"))
    idx = VectorIndex(rows_per_centroid=32, nprobes=6, pq_m=8, pq_k=16, refine=64)
    lake_b.build_index(idx, "embedding")
    out = knn_topk(lake_b, idx, "embedding", query_vec, K, "vec_id").collect()
    assert len(out) == K


def test_pq_three_stage_recall(spark, sf_dir, tmp_path):
    """PQ path (probe -> approx top-refine -> exact rerank of only those
    rows) keeps recall@K high vs the exact scan."""
    from rottnest_spark.sources.reader import read_parquet

    out = str(tmp_path / "pq_lake")
    read_parquet(spark, [f"{sf_dir}/embeddings.parquet"]).repartition(
        3
    ).write.parquet(out)
    lake = ParquetLake(spark, out, str(tmp_path / "pq_idx"))
    idx = VectorIndex(rows_per_centroid=64, nprobes=8, pq_m=8, pq_k=16, refine=64)
    lake.build_index(idx, "embedding")
    entry = lake.catalog.entries_for("vector", "embedding")[0]
    import os

    assert os.path.isdir(f"{entry['index_path']}/pq_codes")
    assert os.path.isdir(f"{entry['index_path']}/pq_codebook")

    q = [
        float(x)
        for x in spark.read.parquet(out)
        .filter(F.col("vec_id") == 7)
        .collect()[0]["embedding"]
    ]
    K = 10
    got = {
        r["vec_id"]: r["dist"]
        for r in knn_topk(lake, idx, "embedding", q, K, "vec_id").collect()
    }
    want = {
        r["vec_id"]: r["dist"]
        for r in knn_topk(
            lake, VectorIndex(), "embedding", q, K, "vec_id", exact=True
        ).collect()
    }
    recall = len(set(got) & set(want)) / K
    assert recall >= 0.8, recall
    # distances of the found neighbors are EXACT (fp32 rerank on real rows)
    for vid in set(got) & set(want):
        assert abs(got[vid] - want[vid]) < 1e-6


def test_knn_topk_many_exact_equals_per_query(spark, sf_dir, tmp_path):
    """Batched exact KNN == N independent exact KNNs."""
    from rottnest_spark import ParquetLake
    from rottnest_spark.indices.vector import (
        VectorIndex,
        knn_topk,
        knn_topk_many,
    )

    lake = ParquetLake(
        spark, [f"{sf_dir}/embeddings.parquet"], str(tmp_path / "noidx")
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {
        f"q{r['vec_id']}": [float(x) for x in r["embedding"]]
        for r in emb.filter(emb.vec_id.isin([1, 5, 9])).collect()
    }
    idx = VectorIndex()
    batched = knn_topk_many(
        lake, idx, "embedding", vecs, 5, "vec_id", exact=True
    ).collect()
    by_q = {}
    for r in batched:
        by_q.setdefault(r["__query__"], []).append((r["vec_id"], r["dist"]))
    for qid, vec in vecs.items():
        single = [
            (r["vec_id"], r["dist"])
            for r in knn_topk(
                lake, idx, "embedding", vec, 5, "vec_id", exact=True
            ).collect()
        ]
        assert sorted(by_q[qid]) == sorted(single), qid


def test_knn_topk_many_ivf_recall(spark, sf_dir, tmp_path):
    """Batched IVF KNN: one postings scan for N queries, full recall on the
    fixture (nprobes covers the true neighbors)."""
    from rottnest_spark import ParquetLake
    from rottnest_spark.indices.vector import (
        VectorIndex,
        knn_topk,
        knn_topk_many,
    )

    lake_dir = str(tmp_path / "lake")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.repartition(4).write.parquet(lake_dir)
    lake = ParquetLake(spark, lake_dir, str(tmp_path / "idx"))
    idx = VectorIndex(rows_per_centroid=32, nprobes=8)
    lake.build_index(idx, "embedding")
    vecs = {
        f"q{r['vec_id']}": [float(x) for x in r["embedding"]]
        for r in emb.filter(emb.vec_id.isin([2, 11])).collect()
    }
    batched = knn_topk_many(lake, idx, "embedding", vecs, 5, "vec_id").collect()
    by_q = {}
    for r in batched:
        by_q.setdefault(r["__query__"], set()).add(r["vec_id"])
    for qid, vec in vecs.items():
        exact = {
            r["vec_id"]
            for r in knn_topk(
                lake, idx, "embedding", vec, 5, "vec_id", exact=True
            ).collect()
        }
        recall = len(by_q.get(qid, set()) & exact) / len(exact)
        assert recall >= 0.8, (qid, recall)


def test_knn_topk_many_pq_on_partitioned_delta(spark, tmp_path):
    """PQ postings are row-group units. On a partitioned Delta table the
    top-K fetch stays row-group precise (no partition column is needed);
    once column mapping forces whole-file fetches, units of one file that
    different query sets admitted must not fetch that file twice. Either
    way each query's batched top-K equals its own single-query call."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rottnest_spark.indices.vector import knn_topk_many
    from rottnest_spark.sources.delta import DeltaSnapshotLake
    from rottnest_spark.sources.delta_write import (
        delta_convert,
        delta_rename_column,
    )

    # 8 well-separated clusters on a line, one row group each: file
    # bucket=b holds clusters 4b..4b+3
    rng = np.random.default_rng(3)
    table = str(tmp_path / "t")
    for b in range(2):
        ids, vecs = [], []
        for c in range(4 * b, 4 * b + 4):
            for i in range(32):
                v = rng.normal(scale=0.3, size=8)
                v[0] += 10.0 * c
                ids.append(c * 32 + i)
                vecs.append([float(x) for x in v])
        os.makedirs(f"{table}/bucket={b}")
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "embedding": pa.array(vecs, pa.list_(pa.float32())),
                }
            ),
            f"{table}/bucket={b}/part-0.parquet",
            row_group_size=32,
        )
    delta_convert(table, partition_columns=["bucket"])
    # nprobes=2: q1 admits clusters {0, 1}, q2 {1, 2} — three row groups
    # of one file under three different query sets
    queries = {
        "q1": [4.0] + [0.0] * 7,
        "q2": [14.0] + [0.0] * 7,
        "q3": [54.0] + [0.0] * 7,
    }
    first = f"{table}/bucket=0/part-0.parquet"

    for tag, id_col in (("partitioned", "vec_id"), ("mapped", "vid")):
        if tag == "mapped":
            delta_rename_column(table, "vec_id", "vid")
        lake = DeltaSnapshotLake(spark, table, str(tmp_path / f"idx_{tag}"))
        cols = [id_col, "embedding"]
        unit_rows = lake._read_candidate_units([(first, 0)], cols).count()
        assert unit_rows == (32 if tag == "partitioned" else 128), tag
        idx = VectorIndex(rows_per_centroid=32, nprobes=2, pq_m=8, pq_k=16)
        lake.build_index(idx, "embedding")
        batched = knn_topk_many(lake, idx, "embedding", queries, 5, id_col)
        got: dict[str, list] = {}
        for r in batched.collect():
            got.setdefault(r["__query__"], []).append((r[id_col], r["dist"]))
        for qid, vec in queries.items():
            single = [
                (r[id_col], r["dist"])
                for r in knn_topk_many(
                    lake, idx, "embedding", {qid: vec}, 5, id_col
                ).collect()
            ]
            assert len({i for i, _ in got[qid]}) == 5, (tag, qid, got[qid])
            assert sorted(got[qid]) == sorted(single), (tag, qid)


def test_cosine_knn_equals_numpy(spark):
    import numpy as np

    from rottnest_spark.indices.vector import cosine_knn_exact, normalize_col

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(200, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "vid bigint, emb array<double>",
    )
    q = [float(x) for x in rng.normal(size=8)]
    got = [r["vid"] for r in cosine_knn_exact(df, "emb", q, 10, "vid").collect()]
    qn = np.array(q) / np.linalg.norm(q)
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    want = list(np.argsort(-(vn @ qn), kind="stable")[:10])
    assert got == [int(w) for w in want]

    # cosine == L2-on-normalized equivalence: the IVF machinery serves
    # cosine by normalizing at write + query
    ndf = df.withColumn("emb", normalize_col("emb"))
    from rottnest_spark.indices.vector import l2_dist_col

    got_l2 = [
        r["vid"]
        for r in ndf.select("vid", l2_dist_col("emb", list(qn), 6).alias("d"))
        .orderBy("d", "vid")
        .limit(10)
        .collect()
    ]
    assert got_l2 == got


def _count_jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_probe_job_count_independent_of_entry_count(spark, sf_dir, tmp_path):
    """Round-4 verdict item 3: an uncompacted lake with many index entries
    must not pay per-entry sequential jobs — nearest_centroids, the IVF
    postings probe, and the PQ scoring scan each run a constant number of
    jobs regardless of how many catalog entries cover the lake."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = VectorIndex(rows_per_centroid=32, nprobes=8, pq_m=8, pq_k=16, refine=32)

    def build_lake(n_entries, tag):
        data = str(tmp_path / f"d{tag}")
        emb.repartition(2).write.parquet(data)
        lake = ParquetLake(spark, data, str(tmp_path / f"i{tag}"))
        lake.build_index(idx, "embedding")
        n = emb.count()
        chunk = n // n_entries
        for i in range(1, n_entries):
            lake.append(
                emb.filter(
                    (F.col("vec_id") % n_entries) == i
                ).withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000 * i))
            )
            lake.build_index(idx, "embedding")
        return lake

    lake1 = build_lake(1, "a")
    lake4 = build_lake(4, "b")
    e1 = [e["index_path"] for e in lake1.catalog.entries_for("vector", "embedding")]
    e4 = [e["index_path"] for e in lake4.catalog.entries_for("vector", "embedding")]
    assert len(e1) == 1 and len(e4) == 4

    q = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    for stage, fn1, fn4 in [
        (
            "nearest_centroids",
            lambda: idx.nearest_centroids(spark, e1, q),
            lambda: idx.nearest_centroids(spark, e4, q),
        ),
        (
            "ivf_postings",
            lambda: idx.search(spark, e1, q).count(),
            lambda: idx.search(spark, e4, q).count(),
        ),
        (
            "pq_scan",
            lambda: idx.search_pq(spark, e1, q),
            lambda: idx.search_pq(spark, e4, q),
        ),
    ]:
        j1 = _count_jobs(spark, f"{stage}-1e", fn1)
        j4 = _count_jobs(spark, f"{stage}-4e", fn4)
        assert j1 > 0 and j4 == j1, (
            f"{stage}: {j4} jobs over 4 entries vs {j1} over 1 — "
            "job count must not scale with entry count"
        )
    # and the multi-entry probe still returns sane results
    got = idx.search_pq(spark, e4, q)
    assert got and len(got) <= idx.refine


def test_nearest_centroids_collects_only_nprobes_rows(spark, sf_dir, tmp_path):
    """Round-5 verdict item 2: the centroid pick must be executor-side —
    the driver receives exactly nprobes rows no matter how many centroids
    (entries × centroids/entry) the corpus has, and the pick equals the
    driver-side numpy brute force over every centroid."""
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = VectorIndex(rows_per_centroid=16, nprobes=5, pq_m=8, pq_k=16)
    data = str(tmp_path / "d")
    emb.repartition(3).write.parquet(data)
    lake = ParquetLake(spark, data, str(tmp_path / "i"))
    lake.build_index(idx, "embedding")
    lake.append(emb.withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000)))
    lake.build_index(idx, "embedding")
    paths = [
        e["index_path"] for e in lake.catalog.entries_for("vector", "embedding")
    ]
    assert len(paths) == 2
    q = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]

    top_df = idx._centroid_topk_df(spark, paths, q)
    # the plan caps what reaches the driver at nprobes rows
    assert top_df.count() == idx.nprobes
    plan = top_df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan

    # equivalence vs brute force over EVERY centroid, driver-side
    all_cents = (
        spark.read.parquet(*[f"{p}/centroids" for p in paths])
        .select(idx._entry_of_col().alias("e"), "centroid_id", "centroid")
        .collect()
    )
    assert len(all_cents) > idx.nprobes  # the cap is doing real work
    qv = np.array(q)
    d = {
        (r["e"], r["centroid_id"]): float(
            ((np.array(r["centroid"]) - qv) ** 2).sum()
        )
        for r in all_cents
    }
    want = set(sorted(d, key=lambda k: (d[k], k))[: idx.nprobes])
    got = {
        (e.replace("file:/", "/").replace("///", "/"), cid)
        for e, cid in idx.nearest_centroids(spark, paths, q)
    }
    want = {(e.replace("file:/", "/").replace("///", "/"), cid) for e, cid in want}
    # distances may tie exactly; compare by distance multiset instead of ids
    got_d = sorted(
        d[k] for k in d if k in {(e, c) for e, c in want}
    )
    assert sorted(d.get(k, -1.0) for k in got) == got_d

    # dim mismatch still raises, executor-side nulls surfacing first
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dim"):
        idx.nearest_centroids(spark, paths, q[:-1])
