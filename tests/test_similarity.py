"""ANN similarity search tests on the driver's embeddings table."""

import math

import pytest
from pyspark.sql import functions as F

from wimbd_spark.operators.similarity import (
    cosine,
    cosine_topk,
    cosine_topk_lsh,
)


@pytest.fixture(scope="module")
def embeddings(tables):
    return tables["embeddings"]


def test_cosine_expression(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0], [2.0, 3.0])], ["a", "b"]
    )
    got = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()[0]["c"]
    expect = (1 * 2 + 2 * 3) / (math.sqrt(5) * math.sqrt(13))
    assert got == pytest.approx(expect, rel=1e-12)


def test_brute_force_topk_matches_numpy(embeddings):
    import numpy as np

    queries = embeddings.filter(F.col("vec_id") < 3)
    got = cosine_topk(embeddings, queries, k=3).collect()
    pdf = embeddings.orderBy("vec_id").toPandas()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = normed @ normed.T
    for q in range(3):
        order = [
            ids[j]
            for j in np.lexsort((ids, -sims[q]))
            if ids[j] != ids[q]
        ][:3]
        mine = [
            r["neighbor_id"]
            for r in sorted(
                (r for r in got if r["query_id"] == q),
                key=lambda r: r["rank"],
            )
        ]
        assert mine == order


def test_lsh_recall_reasonable(embeddings):
    queries = embeddings.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(embeddings, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_lsh(
            embeddings, queries, k=3, nbits=4, multiprobe=True
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5  # 4-bit sketch + multiprobe on random vectors


def test_ivf_recall_reasonable(embeddings):
    from wimbd_spark.operators.similarity import cosine_topk_ivf

    queries = embeddings.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(embeddings, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_ivf(
            embeddings, queries, k=3, n_centroids=8, n_probe=4
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4  # probing half the lists on random vectors


def test_lsh_self_excluded(embeddings):
    queries = embeddings.filter(F.col("vec_id") < 5)
    rows = cosine_topk_lsh(embeddings, queries, k=3, nbits=4).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)


def test_cosine_pairs_threshold(spark):
    from wimbd_spark.operators.similarity import cosine_pairs

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.999, 0.01]),   # ~same direction as 1
            (3, [0.0, 1.0]),      # orthogonal
        ],
        ["vec_id", "embedding"],
    )
    got = {(r["id_a"], r["id_b"]) for r in cosine_pairs(df, threshold=0.9).collect()}
    assert got == {(1, 2)}


def test_cosine_pairs_lsh_recall(embeddings):
    from wimbd_spark.operators.similarity import cosine_pairs, cosine_pairs_lsh

    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs(embeddings, threshold=0.4).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_lsh(embeddings, threshold=0.4, nbits=4).collect()
    }
    assert approx <= exact  # verification keeps no false positives
    assert exact  # fixture actually has pairs at this threshold
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4  # 4-bit sketch + 1-bit multiprobe, random vectors


def test_auto_nbits_sizing():
    from wimbd_spark.operators.similarity import auto_nbits

    assert auto_nbits(100) == 1           # tiny collection → 2 buckets
    assert auto_nbits(256 * 64) == 6      # 16k vectors → 64 buckets
    assert auto_nbits(10**9) == 22        # 1e9 vectors, 256/bucket
    assert auto_nbits(10**12) == 24       # clamped at max_bits


def test_cosine_pairs_lsh_auto_nbits(spark):
    # nbits=None sizes from the collection and still verifies exactly
    from wimbd_spark.operators.similarity import (
        auto_nbits,
        cosine_pairs,
        cosine_pairs_lsh,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    auto = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_lsh(
            emb, threshold=0.45, nbits=None
        ).collect()
    }
    explicit = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_lsh(
            emb, threshold=0.45, nbits=auto_nbits(emb.count())
        ).collect()
    }
    assert auto == explicit
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs(emb, threshold=0.45).collect()
    }
    assert auto <= exact  # LSH candidates verified exactly — no false pairs


def test_semantic_duplicates_greedy_semantics(embeddings):
    # Brute-force the spec in numpy: assign each vector to its nearest
    # deterministic centroid (ties → smaller cid), then drop x iff a
    # same-cluster y < x has cosine ≥ τ; dup_of = min such y.
    import hashlib

    import numpy as np

    from wimbd_spark.operators.similarity import (
        drop_semantic_duplicates,
        semantic_duplicates,
    )

    tau, k = 0.45, 8
    pdf = embeddings.orderBy("vec_id").toPandas()
    ids = pdf["vec_id"].to_numpy()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)

    def h32(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)

    cent_ids = sorted(ids, key=lambda i: (h32(i), i))[:k]
    cent_rows = [int(np.where(ids == c)[0][0]) for c in cent_ids]
    sims_to_cents = normed @ normed[cent_rows].T
    # argmax with tie → smaller cid: lexsort on (-sim, cid)
    assign = {}
    for r in range(len(ids)):
        best = min(
            range(k), key=lambda j: (-sims_to_cents[r, j], cent_ids[j])
        )
        assign[ids[r]] = cent_ids[best]
    sims = normed @ normed.T
    expect = {}
    for bi, b in enumerate(ids):
        mates = [
            a
            for ai, a in enumerate(ids)
            if a < b and assign[a] == assign[b] and sims[ai, bi] >= tau
        ]
        if mates:
            expect[int(b)] = (int(assign[b]), int(min(mates)))

    got = {
        r["vec_id"]: (r["centroid"], r["dup_of"])
        for r in semantic_duplicates(
            embeddings, threshold=tau, n_centroids=k
        ).collect()
    }
    assert got == expect

    survivors = {
        r["vec_id"]
        for r in drop_semantic_duplicates(
            embeddings, threshold=tau, n_centroids=k
        ).collect()
    }
    assert survivors == set(int(i) for i in ids) - set(expect)


def test_semantic_duplicates_auto_ncentroids(spark):
    from wimbd_spark.operators.similarity import (
        auto_ncentroids,
        semantic_duplicates,
    )

    assert auto_ncentroids(100, target_cluster=10) == 10
    assert auto_ncentroids(5, target_cluster=10) == 1
    assert auto_ncentroids(10**12) == 4096  # literal-array cap
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    auto = semantic_duplicates(emb, threshold=0.45, n_centroids=None)
    explicit = semantic_duplicates(
        emb,
        threshold=0.45,
        n_centroids=auto_ncentroids(emb.count()),
    )
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def test_empty_corpus_yields_empty_results(spark):
    # an empty corpus has no duplicates and no neighbors — degenerate
    # shards must flow through pipelines, not crash them (r6 item 5)
    from wimbd_spark.operators.similarity import (
        cosine_topk_ivf,
        semantic_duplicates,
    )

    empty = spark.createDataFrame(
        [], schema="vec_id long, embedding array<double>"
    )
    drops = semantic_duplicates(empty, threshold=0.45, n_centroids=4)
    assert drops.columns == ["vec_id", "centroid", "dup_of"]
    assert drops.count() == 0
    knn = cosine_topk_ivf(empty, empty, k=2, n_centroids=4)
    assert knn.columns == ["query_id", "neighbor_id", "rank"]
    assert knn.count() == 0


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_centroid_assignment_margin(sf_dir):
    # Oracle-equality guard (ADVICE r4): semantic_dedup's Spark side
    # assigns centroids via cosine over unit-normalized vectors, the
    # DuckDB oracle via list_cosine_similarity on raw vectors — the
    # argmax agrees only because no vector sits near a tie. Assert the
    # best-vs-second-best margin stays far above engine float
    # divergence (~1e-12) at every oracle-checked SF, so a testdata
    # regen that breaks the margin fails HERE, not as driver flake.
    import hashlib

    import numpy as np
    import pandas as pd

    emb = pd.read_parquet(sf_dir + "/embeddings.parquet")
    ids = emb["vec_id"].to_numpy()
    vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    hk = np.array(
        [
            int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
            for i in ids
        ]
    )
    order = np.lexsort((ids, hk))[:8]  # 8 smallest (hash32, id)
    cents = vecs[order]
    sims = (vecs @ cents.T) / (
        np.linalg.norm(vecs, axis=1)[:, None]
        * np.linalg.norm(cents, axis=1)[None, :]
    )
    top2 = np.sort(sims, axis=1)[:, -2:]
    margin = float(np.min(top2[:, 1] - top2[:, 0]))
    assert margin > 1e-6, f"assignment margin {margin} too thin for oracle equality"


def test_lsh_dim_inference(spark):
    """dim=None infers hyperplane dimensionality from the data — a
    mismatched fixed dim NULL-pads every sign test and collapses all
    vectors into bucket 0 (unpruned cross join at scale)."""
    from wimbd_spark.operators.similarity import (
        _infer_dim,
        cosine_pairs,
        cosine_pairs_lsh,
        cosine_topk_lsh,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (2, [0.98, 0.2, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert _infer_dim(df, "embedding") == 8
    got = cosine_pairs_lsh(df, threshold=0.9, nbits=4, dim=None).collect()
    want = cosine_pairs(df, threshold=0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {
        (r["id_a"], r["id_b"]) for r in want
    } == {(1, 2)}
    knn = cosine_topk_lsh(df, df.filter("vec_id = 1"), k=1, nbits=2,
                          dim=None).collect()
    assert [(r["query_id"], r["neighbor_id"]) for r in knn] == [(1, 2)]
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="cannot infer"):
        _infer_dim(empty, "embedding")


def test_ivf_index_matches_unindexed(spark, embeddings, tmp_path):
    """The materialized IVF index answers row-identically to the
    in-memory cosine_topk_ivf for the same (n_centroids, n_probe) —
    same centroids (hash-gated sample), same assignment, same rank."""
    from wimbd_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk_ivf,
        cosine_topk_ivf_indexed,
    )

    path = str(tmp_path / "ivf")
    build_ivf_index(embeddings, path, n_centroids=8)
    queries = embeddings.filter(F.col("vec_id") < 5)
    direct = sorted(
        map(tuple, cosine_topk_ivf(
            embeddings, queries, k=3, n_centroids=8, n_probe=2
        ).collect())
    )
    indexed = sorted(
        map(tuple, cosine_topk_ivf_indexed(
            spark, path, queries, k=3, n_probe=2
        ).collect())
    )
    assert indexed == direct and len(indexed) > 0


def test_ivf_index_prunes_partitions(spark, embeddings, tmp_path):
    """The probed-centroid filter must reach the lists scan as a
    PARTITION filter: only ~n_probe/n_centroids of the index is read
    (the whole point of materializing the lists partitioned)."""
    from wimbd_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk_ivf_indexed,
    )
    from wimbd_spark.plans import explain_str

    path = str(tmp_path / "ivfp")
    build_ivf_index(embeddings, path, n_centroids=8)
    queries = embeddings.filter(F.col("vec_id") < 2)
    df = cosine_topk_ivf_indexed(spark, path, queries, k=3, n_probe=2)
    plan = explain_str(df)
    i = plan.find("PartitionFilters")
    assert i != -1 and "centroid" in plan[i : i + 200]


def test_ivf_index_empty_corpus(spark, tmp_path):
    from wimbd_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk_ivf_indexed,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivfe")
    build_ivf_index(empty, path, n_centroids=4)
    out = cosine_topk_ivf_indexed(spark, path, empty, k=2)
    assert out.columns == ["query_id", "neighbor_id", "rank"]
    assert out.count() == 0


def test_ivf_index_append(spark, embeddings, tmp_path):
    """Appending vectors assigns against the STORED centroids, so an
    index built on half the corpus then appended with the other half
    answers identically to one built... with the SAME centroid set.
    (Not identical to a fresh full build — that re-samples centroids —
    so the test pins the real invariant: post-append, indexed results
    equal the in-memory IVF run with the original centroid sample.)"""
    from wimbd_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        cosine_topk_ivf_indexed,
        ivf_list_sizes,
    )

    half_a = embeddings.filter(F.col("vec_id") % 2 == 0)
    half_b = embeddings.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivfapp")
    build_ivf_index(half_a, path, n_centroids=8)
    n_a = spark.read.parquet(f"{path}/lists").count()
    append_to_ivf_index(half_b, path)
    total = spark.read.parquet(f"{path}/lists").count()
    assert total == embeddings.count() and n_a == half_a.count()

    queries = embeddings.filter(F.col("vec_id") < 4)
    got = sorted(map(tuple, cosine_topk_ivf_indexed(
        spark, path, queries, k=3, n_probe=3
    ).collect()))
    # expected: same probe/rank semantics with half_a's centroid sample
    from wimbd_spark.operators.similarity import (
        _centroid_rows,
        _nearest_centroids,
        _centroid_literal,
        _to_double,
        _unit,
        dot,
    )
    from pyspark.sql.window import Window

    cents = _centroid_rows(half_a, "vec_id", "embedding", 8)
    cent_arr = _centroid_literal(cents)
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        _unit(_to_double(F.col("embedding"))).alias("_cv"),
    ).withColumn("centroid", _nearest_centroids(F.col("_cv"), cent_arr, 1)[0]["cid"])
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        _unit(_to_double(F.col("embedding"))).alias("_qv"),
    ).withColumn("centroid", F.explode(F.transform(
        _nearest_centroids(F.col("_qv"), cent_arr, 3), lambda s: s["cid"])))
    scored = q.join(c, "centroid").select(
        "query_id", "neighbor_id", dot(F.col("_qv"), F.col("_cv")).alias("cos")
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    expect = sorted(map(tuple,
        scored.dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id",
                F.col("rank").cast("long").alias("rank")).collect()))
    assert got == expect

    sizes = ivf_list_sizes(spark, path).collect()
    assert sum(r["size"] for r in sizes) == embeddings.count()
    # empty-built index refuses appends with a clear error
    ep = str(tmp_path / "ivfempty2")
    build_ivf_index(
        spark.createDataFrame([], "vec_id long, embedding array<double>"),
        ep, n_centroids=2,
    )
    with pytest.raises(ValueError, match="no centroids"):
        append_to_ivf_index(half_b, ep)


# ---------------------------------------------------- cluster-balanced sample


def test_cluster_balanced_sample_quota_and_determinism(embeddings):
    from wimbd_spark.operators.similarity import cluster_balanced_sample

    out = cluster_balanced_sample(embeddings, per_cluster=3, n_centroids=8)
    rows = [tuple(r) for r in out.collect()]
    per = {}
    for _, cid in rows:
        per[cid] = per.get(cid, 0) + 1
    assert per and all(v <= 3 for v in per.values())
    # partition-layout independent
    again = [
        tuple(r)
        for r in cluster_balanced_sample(
            embeddings.repartition(7), per_cluster=3, n_centroids=8
        ).collect()
    ]
    assert sorted(rows) == sorted(again)


def test_cluster_balanced_sample_assignment_matches_numpy(embeddings):
    import hashlib

    import numpy as np

    from wimbd_spark.operators.similarity import cluster_balanced_sample

    pdf = embeddings.orderBy("vec_id").toPandas()
    ids = pdf["vec_id"].to_numpy()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)

    def h(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)

    order = sorted(range(len(ids)), key=lambda j: (h(ids[j]), ids[j]))
    cent_idx = order[:8]
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = normed @ normed[cent_idx].T
    expect_assign = {}
    for j in range(len(ids)):
        # argmax cosine, tie → smaller centroid id
        best = max(
            range(8), key=lambda c: (sims[j, c], -ids[cent_idx[c]])
        )
        expect_assign[int(ids[j])] = int(ids[cent_idx[best]])

    out = cluster_balanced_sample(embeddings, per_cluster=10**6, n_centroids=8)
    got = {r["vec_id"]: r["centroid_id"] for r in out.collect()}
    assert len(got) == len(ids)
    mism = {k: (v, expect_assign[k]) for k, v in got.items() if v != expect_assign[k]}
    assert not mism, list(mism.items())[:5]


def test_cluster_balanced_sample_empty_and_bad_args(spark, embeddings):
    from wimbd_spark.operators.similarity import cluster_balanced_sample

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert cluster_balanced_sample(empty, per_cluster=2).count() == 0
    with pytest.raises(ValueError):
        cluster_balanced_sample(embeddings, per_cluster=0)


def test_cluster_sample_preprune_bounds_window_input(spark):
    # r8 (VERDICT r7 item 5): the quota window's input is the map-side
    # pre-pruned set — <= input_partitions x n_centroids x per_cluster
    # rows — never the corpus.
    import pandas as pd

    from wimbd_spark.operators.similarity import (
        _quota_preprune,
        cluster_balanced_sample,
    )

    # unit level: two Arrow batches, 3 centroids, per_cluster=2 —
    # bounded output, smallest (hash, id) kept per centroid
    b1 = pd.DataFrame(
        {"vec_id": [1, 2, 3, 4], "centroid_id": [0, 0, 1, 1],
         "_h": [40, 10, 30, 20]}
    )
    b2 = pd.DataFrame(
        {"vec_id": [5, 6, 7], "centroid_id": [0, 0, 2], "_h": [5, 50, 1]}
    )
    out = pd.concat(list(_quota_preprune(2)(iter([b1, b2]))))
    got = {
        c: sorted(zip(g["_h"], g["vec_id"]))
        for c, g in out.groupby("centroid_id")
    }
    assert got == {
        0: [(5, 5), (10, 2)],  # 40 and 50 pruned in-partition
        1: [(20, 4), (30, 3)],
        2: [(1, 7)],
    }

    # integration: plan shows the python prune feeding the window, and
    # the result is the global smallest-(hash,id) quota per centroid
    import random

    random.seed(3)
    rows = [
        (i, [random.gauss(0, 1) for _ in range(8)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(6)
    out = cluster_balanced_sample(df, per_cluster=3, n_centroids=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    res = out.collect()
    from collections import Counter

    per = Counter(r["centroid_id"] for r in res)
    assert all(v <= 3 for v in per.values())
    # parity with the unpruned definition: global smallest (hash32, id)
    from wimbd_spark.functions.text import hash32 as h32
    from wimbd_spark.operators.similarity import (
        _deterministic_centroids,
        _nearest_centroids,
        _to_double,
    )
    from pyspark.sql import functions as F

    cent = _deterministic_centroids(df, "vec_id", "embedding", 4)
    assigned = df.select(
        "vec_id",
        _nearest_centroids(_to_double(F.col("embedding")), cent, 1)[0][
            "cid"
        ].alias("centroid_id"),
        h32(F.col("vec_id")).alias("_h"),
    ).collect()
    expect = set()
    byc = {}
    for r in assigned:
        byc.setdefault(r["centroid_id"], []).append((r["_h"], r["vec_id"]))
    for c, lst in byc.items():
        for _, vid in sorted(lst)[:3]:
            expect.add((vid, c))
    assert {(r["vec_id"], r["centroid_id"]) for r in res} == expect


def test_pq_topk_properties(spark):
    # r8: product-quantized ANN — structure, determinism, and quality
    # on clusterable data (same-cluster precision; plain recall@k is
    # the wrong metric here because PQ collapses same-cluster near-
    # ties to identical codes and reorders them by id)
    import random

    from wimbd_spark.operators.similarity import (
        cosine_topk_pq,
        pq_codebooks,
    )

    rng = random.Random(5)
    protos = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(6)]
    rows = [
        (i, [p + rng.gauss(0, 0.05) for p in protos[i % 6]])
        for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter("vec_id < 8")
    out = cosine_topk_pq(emb, queries, k=4, m=4, n_codes=8)
    res = out.collect()
    # shape: <= k rows per query, ranks 1..k, no self matches
    per = {}
    for r in res:
        per.setdefault(r["query_id"], []).append(r)
        assert r["query_id"] != r["neighbor_id"]
    for q, lst in per.items():
        assert [r["rank"] for r in sorted(lst, key=lambda r: r["rank"])] == list(
            range(1, len(lst) + 1)
        )
    # quality: every returned neighbor is from the query's own cluster
    assert all(
        r["neighbor_id"] % 6 == r["query_id"] % 6 for r in res
    )
    # determinism: identical output across invocations
    again = cosine_topk_pq(emb, queries, k=4, m=4, n_codes=8).collect()
    assert sorted(map(tuple, res)) == sorted(map(tuple, again))
    # codebook shape + dim guard
    cb = pq_codebooks(emb, m=4, n_codes=8)
    assert len(cb) == 4 and all(len(b) <= 8 for b in cb)
    assert all(len(cv) == 4 for b in cb for cv in b)
    with pytest.raises(ValueError, match="divisible"):
        pq_codebooks(emb, m=5)
    # lloyd refinement runs and stays deterministic within a session
    r1 = cosine_topk_pq(emb, queries, k=4, m=4, n_codes=8, iters=1).collect()
    r2 = cosine_topk_pq(emb, queries, k=4, m=4, n_codes=8, iters=1).collect()
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
    # empty corpus -> typed empty result
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert cosine_topk_pq(empty, queries, k=3).count() == 0


def test_ivf_pq_indexed_path(spark, tmp_path):
    # r8: PQ codes persisted inside the IVF index — probe-all equals
    # the in-memory PQ exactly; the probed scan reads neither the
    # full-precision vectors nor unprobed partitions (plan-pinned)
    import random

    from wimbd_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk_ivf_pq_indexed,
        cosine_topk_pq,
    )
    from pyspark.sql import functions as F

    rng = random.Random(9)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(160)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivfpq")
    build_ivf_index(emb, path, n_centroids=4, pq_m=4, pq_codes=8)
    queries = emb.filter("vec_id < 6")
    got = sorted(
        map(
            tuple,
            cosine_topk_ivf_pq_indexed(
                spark, path, queries, k=4, n_probe=4
            ).collect(),
        )
    )
    ref = sorted(
        map(
            tuple,
            cosine_topk_pq(emb, queries, k=4, m=4, n_codes=8).collect(),
        )
    )
    assert got == ref and len(got) > 0
    # partial probe: compressed read path — no uvec, pruned partitions
    out = cosine_topk_ivf_pq_indexed(spark, path, queries, k=4, n_probe=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "uvec" not in plan
    assert "PartitionFilters" in plan
    assert out.count() > 0
    # an index built WITHOUT pq refuses the pq read path
    plain = str(tmp_path / "plainivf")
    build_ivf_index(emb, plain, n_centroids=4)
    with pytest.raises(Exception):
        cosine_topk_ivf_pq_indexed(spark, plain, queries, k=2).collect()
    # empty corpus: builds a valid empty pq index, queries return empty
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    epath = str(tmp_path / "emptyivfpq")
    build_ivf_index(empty, epath, n_centroids=4, pq_m=4, pq_codes=8)
    assert (
        cosine_topk_ivf_pq_indexed(spark, epath, queries, k=2).count() == 0
    )


def test_ivf_pq_rerank_refines_to_exact_within_probes(spark, tmp_path):
    """Exact re-rank over ALL candidates (n_candidates = corpus,
    n_probe = all lists) must reproduce exact cosine_topk; and at
    partial probe the ORDER within the returned rows is the exact
    cosine order, not PQ's. The re-rank scan reads uvec but only
    candidate rows (id pushdown + partition filter plan-pinned)."""
    import random

    from pyspark.sql import functions as F

    from wimbd_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk,
        cosine_topk_ivf_pq_rerank,
    )

    rng = random.Random(17)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(160)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "rerankivf")
    build_ivf_index(emb, path, n_centroids=4, pq_m=4, pq_codes=8)
    queries = emb.filter("vec_id < 6")

    got = cosine_topk_ivf_pq_rerank(
        spark, path, queries, k=4, n_candidates=160, n_probe=4
    ).collect()
    want = cosine_topk(emb, queries, k=4).collect()
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    assert [(r.query_id, r.neighbor_id, r.rank)
            for r in sorted(got, key=key)] == [
        (r.query_id, r.neighbor_id, r.rank) for r in sorted(want, key=key)
    ]

    # partial probe: row set may differ from exact, but exact-cosine
    # ordering holds within each query's returned rows
    part = cosine_topk_ivf_pq_rerank(
        spark, path, queries, k=4, n_candidates=20, n_probe=1
    )
    import numpy as np

    pdf = emb.orderBy("vec_id").toPandas()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = normed @ normed.T
    by_q: dict = {}
    for r in part.collect():
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    assert by_q
    for qid, lst in by_q.items():
        lst.sort()
        cos = [sims[qid][nid] for _, nid in lst]
        assert cos == sorted(cos, reverse=True)

    # validation + empty paths
    import pytest as _pt

    with _pt.raises(ValueError):
        cosine_topk_ivf_pq_rerank(spark, path, queries, k=0)
    with _pt.raises(ValueError):
        cosine_topk_ivf_pq_rerank(spark, path, queries, k=5,
                                  n_candidates=2)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    epath = str(tmp_path / "emptyrr")
    build_ivf_index(empty, epath, n_centroids=4, pq_m=4, pq_codes=8)
    assert cosine_topk_ivf_pq_rerank(spark, epath, queries, k=2).count() == 0


def test_cosine_topk_filters_and_ivf_candidates(spark, tmp_path):
    """Filtered ANN: cosine_topk(filters=) is a PRE-filter (exact
    top-k among matching vectors); cosine_topk_ivf_indexed(candidates=)
    semi-joins the probed lists against an id allowlist."""
    from wimbd_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk,
        cosine_topk_ivf_indexed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    got = cosine_topk(emb, queries, k=3, filters={"label": 2}).collect()
    allowed = {
        r.vec_id for r in emb.filter(F.col("label") == 2).collect()
    }
    assert got and all(r.neighbor_id in allowed for r in got)
    # pre-filter semantics: equals brute force over the filtered corpus
    want = sorted(
        map(
            tuple,
            cosine_topk(
                emb.filter(F.col("label") == 2).unionByName(
                    queries.filter(~F.col("vec_id").isin(*allowed))
                ),
                queries,
                k=3,
                filters={"label": 2},
            ).collect(),
        )
    )
    assert sorted(map(tuple, got)) == want

    path = str(tmp_path / "ivf_f")
    build_ivf_index(emb, path, n_centroids=4)
    allow = emb.filter(F.col("label") == 2).select("vec_id")
    got_ivf = cosine_topk_ivf_indexed(
        spark, path, queries, k=3, n_probe=4, candidates=allow
    ).collect()
    assert got_ivf and all(r.neighbor_id in allowed for r in got_ivf)
    # n_probe = n_centroids probes everything -> equals exact filtered
    assert sorted(map(tuple, got_ivf)) == sorted(
        map(
            tuple,
            cosine_topk(emb, queries, k=3, filters={"label": 2}).collect(),
        )
    )


def test_ivf_recluster_cycle(spark, tmp_path):
    """append → drift → needs_recluster fires → recluster into a fresh
    generation → skew repaired, full-probe top-k rows unchanged, PQ
    sidecars refreshed (r11 VERDICT item 5)."""
    import pytest
    from wimbd_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        cosine_topk_ivf_indexed,
        cosine_topk_ivf_pq_indexed,
        ivf_list_sizes,
        needs_recluster,
        recluster_ivf_index,
    )

    # 64 spread base vectors; 1000 drifted vectors in one dense blob
    # (distinct small offsets so a re-fit CAN split it)
    base = spark.createDataFrame(
        [(i, [1.0, i * 0.1, (i % 8) * 0.3, (i % 3) * 0.2])
         for i in range(64)],
        "vec_id int, embedding array<double>",
    )
    blob = spark.createDataFrame(
        [(1000 + i, [10.0, 1.0 + i * 0.0005, 0.0, 0.0])
         for i in range(1000)],
        "vec_id int, embedding array<double>",
    )
    path = str(tmp_path / "ivfdrift")
    build_ivf_index(base, path, n_centroids=8, pq_m=2, pq_codes=4)
    # below min_rows: never triggers regardless of shape
    assert needs_recluster(spark, path) is False

    append_to_ivf_index(blob, path)
    sizes0 = ivf_list_sizes(spark, path).collect()
    assert max(r["size"] for r in sizes0) >= 1000  # blob in one list
    assert needs_recluster(spark, path, min_rows=1) is True

    queries = base.filter(F.col("vec_id") < 4)
    before = sorted(map(tuple, cosine_topk_ivf_indexed(
        spark, path, queries, k=3, n_probe=8
    ).collect()))

    fresh = str(tmp_path / "ivfgen2")
    recluster_ivf_index(spark, path, fresh, n_centroids=8, n_iter=2)

    # drift repaired: fat list split, trigger clears
    sizes1 = ivf_list_sizes(spark, fresh).collect()
    assert len(sizes1) >= 2
    assert max(r["size"] for r in sizes1) < max(r["size"] for r in sizes0)
    assert needs_recluster(spark, fresh, min_rows=1) is False
    assert sum(r["size"] for r in sizes1) == 1064  # no vector lost

    # full-probe top-k is clustering-invariant: same rows either side
    after = sorted(map(tuple, cosine_topk_ivf_indexed(
        spark, fresh, queries, k=3, n_probe=8
    ).collect()))
    assert after == before

    # PQ sidecars refreshed: compressed path answers from gen2
    pq_rows = cosine_topk_ivf_pq_indexed(
        spark, fresh, queries, k=3, n_probe=8
    ).collect()
    assert {r["query_id"] for r in pq_rows} == {0, 1, 2, 3}
    cb = spark.read.parquet(f"{fresh}/pq_codebooks")
    assert cb.agg(F.max("s")).collect()[0][0] == 1  # same m=2

    # empty source refuses with a clear error
    ep = str(tmp_path / "ivfempty3")
    build_ivf_index(
        spark.createDataFrame([], "vec_id long, embedding array<double>"),
        ep, n_centroids=2,
    )
    with pytest.raises(ValueError, match="no vectors"):
        recluster_ivf_index(spark, ep, str(tmp_path / "nope"))


def test_ivf_k_fill_escalation(spark, tmp_path):
    """k_fill multiprobe escalation (r11 VERDICT item 6): an allowlist
    with no members in the probed list starves the query at n_probe=1;
    k_fill doubles the probe width until k neighbors are found (== the
    all-lists exact filtered result), and an allowlist smaller than k
    terminates at all-lists-probed with the true short answer."""
    from wimbd_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk_ivf_indexed,
    )

    rows = []
    for c, base in enumerate(
        [[1, 0, 0, 0], [0, 1, 0, 0], [0, 0, 1, 0], [0, 0, 0, 1]]
    ):
        for i in range(10):
            v = [float(x) for x in base]
            v[(c + 1) % 4] += 0.01 * i
            rows.append((c * 100 + i, v))
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    path = str(tmp_path / "ivfkfill")
    build_ivf_index(emb, path, n_centroids=4)

    cent_of = {
        r["id"]: r["centroid"]
        for r in spark.read.parquet(f"{path}/lists")
        .select("id", "centroid")
        .collect()
    }
    qid = 0
    home = cent_of[qid]
    allowed = sorted(i for i, c in cent_of.items() if c != home)
    assert len(allowed) >= 3
    allow = spark.createDataFrame([(i,) for i in allowed], "id int")
    queries = emb.filter(F.col("vec_id") == qid)

    short = cosine_topk_ivf_indexed(
        spark, path, queries, k=3, n_probe=1, candidates=allow
    ).collect()
    assert len(short) < 3  # starved: the probed (home) list has no allowed id

    filled = cosine_topk_ivf_indexed(
        spark, path, queries, k=3, n_probe=1, candidates=allow, k_fill=True
    ).collect()
    assert len(filled) == 3
    exact = cosine_topk_ivf_indexed(
        spark, path, queries, k=3, n_probe=4, candidates=allow
    ).collect()
    assert sorted(map(tuple, filled)) == sorted(map(tuple, exact))

    # allowlist smaller than k: escalation stops at all lists probed
    tiny = spark.createDataFrame([(allowed[0],)], "id int")
    got = cosine_topk_ivf_indexed(
        spark, path, queries, k=3, n_probe=1, candidates=tiny, k_fill=True
    ).collect()
    assert [r["neighbor_id"] for r in got] == [allowed[0]]

    # k_fill on an unfiltered satisfied query is a no-op (same rows)
    plain = cosine_topk_ivf_indexed(
        spark, path, queries, k=3, n_probe=4
    ).collect()
    noop = cosine_topk_ivf_indexed(
        spark, path, queries, k=3, n_probe=4, k_fill=True
    ).collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, noop))


def test_needs_absorb_trigger(spark, tmp_path):
    from wimbd_spark.operators.similarity import (
        absorb_ivf_delta,
        build_ivf_index,
        needs_absorb,
    )
    from wimbd_spark.streaming.vectors import (
        read_vector_stream,
        streaming_ivf_ingest,
    )

    base = spark.createDataFrame(
        [(i, [1.0, 0.1 * i, 0.0, 0.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ivfabsorbtrig")
    build_ivf_index(base, path, n_centroids=2)
    assert needs_absorb(spark, path) is False  # no delta yet

    newv = spark.createDataFrame(
        [(100 + i, [0.5, 0.5, 0.1 * i, 0.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    feed = str(tmp_path / "absorbfeed")
    newv.coalesce(1).write.parquet(feed)
    q = streaming_ivf_ingest(
        read_vector_stream(spark, feed), path,
        checkpoint=str(tmp_path / "ackpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # 5/25 = 20% delta > default 10% bar
    assert needs_absorb(spark, path) is True
    assert needs_absorb(spark, path, max_fraction=0.5) is False

    fresh = str(tmp_path / "ivfabsorbed2")
    absorb_ivf_delta(spark, path, fresh)
    assert needs_absorb(spark, fresh) is False


def test_empty_delta_dir_tolerated(spark, tmp_path):
    """A delta dir with no readable data (failed first epoch write,
    manual cleanup) must behave exactly like no delta: queries, size
    audit and the absorb trigger all keep working."""
    import os

    from wimbd_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk_ivf_indexed,
        ivf_list_sizes,
        needs_absorb,
    )

    base = spark.createDataFrame(
        [(i, [1.0, 0.1 * i, 0.0, 0.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ivfemptydelta")
    build_ivf_index(base, path, n_centroids=2)
    os.makedirs(f"{path}/delta")  # exists, holds nothing

    assert sum(
        r["size"] for r in ivf_list_sizes(spark, path).collect()
    ) == 12
    queries = base.filter("vec_id < 2")
    got = cosine_topk_ivf_indexed(spark, path, queries, k=2, n_probe=2)
    assert got.count() == 4
    assert needs_absorb(spark, path) is False


def _knn_fixture(spark, tmp_path, name="knnj", pq=False):
    from wimbd_spark.operators.similarity import build_ivf_index

    rows = []
    for c in range(4):
        for i in range(12):
            # dense vectors (no zero PQ subvector anywhere): axis
            # direction + small floor on every dim
            v = [0.05] * 4
            v[c] = 1.0
            v[(c + 1) % 4] += 0.03 * i
            rows.append((c * 100 + i, v))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / name)
    kw = {"pq_m": 2, "pq_codes": 4} if pq else {}
    build_ivf_index(emb, path, n_centroids=4, **kw)
    return emb, path


def test_knn_join_matches_interactive(spark, tmp_path):
    """Bulk corpus-as-queries kNN (knn_join) is row-identical to the
    interactive cosine_topk_ivf_indexed at every probe width — same
    probes, same exact dot scores, same (cosine DESC, id ASC) rank —
    with and without the Arrow local-prune stage."""
    from wimbd_spark.operators.similarity import (
        cosine_topk_ivf_indexed,
        knn_join,
    )

    emb, path = _knn_fixture(spark, tmp_path)
    for np_ in (1, 2, 4):
        inter = cosine_topk_ivf_indexed(
            spark, path, emb, k=3, n_probe=np_
        ).collect()
        bulk = knn_join(
            spark, path, emb, k=3, n_probe=np_, local_prune=True
        ).collect()
        nopr = knn_join(
            spark, path, emb, k=3, n_probe=np_, local_prune=False
        ).collect()
        assert sorted(map(tuple, bulk)) == sorted(map(tuple, inter))
        assert sorted(map(tuple, nopr)) == sorted(map(tuple, inter))
    # n_probe="all" == exact brute force (cosine_topk over the corpus)
    allp = knn_join(spark, path, emb, k=2, n_probe="all").collect()
    inter = cosine_topk_ivf_indexed(
        spark, path, emb, k=2, n_probe=4
    ).collect()
    assert sorted(map(tuple, allp)) == sorted(map(tuple, inter))


def test_knn_join_min_cosine_and_validation(spark, tmp_path):
    import pytest

    from wimbd_spark.operators.similarity import knn_join

    emb, path = _knn_fixture(spark, tmp_path, name="knnmc")
    all_rows = knn_join(spark, path, emb, k=3, n_probe="all")
    got = knn_join(spark, path, emb, k=3, n_probe="all", min_cosine=0.999)
    # every surviving pair really clears the bar: recompute exact
    # cosine for the survivors from the raw vectors
    import math

    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    rows = got.collect()
    assert rows and len(rows) < len(all_rows.collect())
    for r in rows:
        assert (
            cos(vecs[r["query_id"]], vecs[r["neighbor_id"]])
            >= 0.999 - 1e-9
        )
    with pytest.raises(ValueError, match="k must be positive"):
        knn_join(spark, path, emb, k=0)


def test_knn_join_delta_duplicate_pair_counts_once(spark, tmp_path):
    """A vector sitting in BOTH base and delta (ingested twice, not
    yet absorbed) is scored twice by the centroid join; the dense_rank
    scheme gives both copies the same rank and keeps one — the
    duplicate neither shifts later neighbors' ranks nor evicts a real
    candidate from the Arrow local prune."""
    from wimbd_spark.operators.similarity import knn_join

    emb, path = _knn_fixture(spark, tmp_path, name="knndup")
    # copy one base row verbatim into the delta tier (same centroid
    # assignment — the layout streaming_ivf_ingest would produce)
    lists = spark.read.parquet(f"{path}/lists")
    one = lists.filter(F.col("id") == 0).select("id", "uvec", "centroid")
    one.write.parquet(f"{path}/delta/run=testdup/batch=0")
    dup = knn_join(spark, path, emb, k=3, n_probe="all").collect()
    # clean index for comparison
    emb2, path2 = _knn_fixture(spark, tmp_path, name="knndup_clean")
    clean = knn_join(spark, path2, emb2, k=3, n_probe="all").collect()
    assert sorted(map(tuple, dup)) == sorted(map(tuple, clean))


def test_knn_join_empty_centroids(spark, tmp_path):
    from wimbd_spark.operators.similarity import knn_join

    emb, path = _knn_fixture(spark, tmp_path, name="knnempty")
    spark.createDataFrame(
        [], "centroid_id int, v array<double>"
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    out = knn_join(spark, path, emb, k=2)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "rank"]


def test_pq_rerank_join_matches_collect(spark, tmp_path):
    """rerank='join' (candidates stay a DataFrame, id pushdown via
    the candidate join) returns the same rows as the default
    driver-collected path."""
    import pytest

    from wimbd_spark.operators.similarity import cosine_topk_ivf_pq_rerank

    emb, path = _knn_fixture(spark, tmp_path, name="rrj", pq=True)
    q = emb.filter(F.col("vec_id") < 5)
    rc = cosine_topk_ivf_pq_rerank(
        spark, path, q, k=3, n_probe=2
    ).collect()
    rj = cosine_topk_ivf_pq_rerank(
        spark, path, q, k=3, n_probe=2, rerank="join"
    ).collect()
    assert sorted(map(tuple, rc)) == sorted(map(tuple, rj))
    with pytest.raises(ValueError, match="rerank"):
        cosine_topk_ivf_pq_rerank(spark, path, q, rerank="driver")


def test_recluster_with_empty_pq_codebooks_dir(spark, tmp_path):
    """An existing-but-EMPTY pq_codebooks dir means 'no PQ sidecar'
    on the recluster path exactly as it does on the query path
    (r12 ADVICE: agg(max)+1 raised TypeError on the empty frame)."""
    import os

    from wimbd_spark.operators.similarity import (
        build_ivf_index,
        recluster_ivf_index,
    )

    emb, path = _knn_fixture(spark, tmp_path, name="remptypq")
    spark.createDataFrame(
        [], "s int, j int, cv array<double>"
    ).write.parquet(f"{path}/pq_codebooks")
    fresh = str(tmp_path / "remptypq2")
    recluster_ivf_index(spark, path, fresh, n_centroids=4)
    assert os.path.exists(f"{fresh}/lists")
    assert not os.path.exists(f"{fresh}/pq_codebooks")


def test_cosine_pairs_ivf_matches_brute_force(spark, tmp_path):
    """Threshold pairs via the index at n_probe='all' equal the exact
    cosine_pairs over the raw vectors; at partial probe they are the
    subset witnessed by shared probed lists (never a superset, never
    a wrong cosine)."""
    import math

    from wimbd_spark.operators.similarity import cosine_pairs_ivf

    emb, path = _knn_fixture(spark, tmp_path, name="cpivf")
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    want = sorted(
        (a, b)
        for a in vecs
        for b in vecs
        if a < b and cos(vecs[a], vecs[b]) >= 0.98
    )
    got = cosine_pairs_ivf(spark, path, emb, 0.98, n_probe="all")
    rows = got.collect()
    assert sorted((r["id_a"], r["id_b"]) for r in rows) == want
    for r in rows:
        assert abs(r["cosine"] - cos(vecs[r["id_a"]], vecs[r["id_b"]])) < 1e-9
    partial = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_ivf(spark, path, emb, 0.98, n_probe=2).collect()
    }
    assert partial <= set(want)


def test_semantic_duplicates_ivf_rule(spark, tmp_path):
    """Bulk SemDeDup drop rule: x drops iff a smaller-id ε-neighbor
    sits in its probed lists; dup_of is the smallest such neighbor.
    At n_probe='all' this equals the global smaller-id rule; duplicate
    base∪delta scoring collapses in the min."""
    import math

    from wimbd_spark.operators.similarity import semantic_duplicates_ivf

    emb, path = _knn_fixture(spark, tmp_path, name="sdivf")
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    t = 0.98
    want = {}
    for b in vecs:
        mates = [a for a in vecs if a < b and cos(vecs[a], vecs[b]) >= t]
        if mates:
            want[b] = min(mates)
    got = {
        r["vec_id"]: r["dup_of"]
        for r in semantic_duplicates_ivf(
            spark, path, emb, threshold=t, n_probe="all"
        ).collect()
    }
    assert got == want and want  # rule holds and fixture has dups
    # the dedup story end-to-end: anti-join keeps exactly the rest
    drops = semantic_duplicates_ivf(
        spark, path, emb, threshold=t, n_probe="all"
    )
    kept = emb.join(drops, "vec_id", "left_anti").count()
    assert kept == len(vecs) - len(want)
    # duplicate rows in the delta tier do not change the answer
    lists = spark.read.parquet(f"{path}/lists")
    lists.limit(5).select("id", "uvec", "centroid").write.parquet(
        f"{path}/delta/run=sd/batch=0"
    )
    again = {
        r["vec_id"]: r["dup_of"]
        for r in semantic_duplicates_ivf(
            spark, path, emb, threshold=t, n_probe="all"
        ).collect()
    }
    assert again == want


def test_knn_join_pq_matches_interactive_rerank(spark, tmp_path):
    """knn_join_pq (codes-only distributed stage 1 + join rerank) is
    row-identical to cosine_topk_ivf_pq_rerank at equal parameters —
    same 6-dp-rounded ADC scores, same tie-break, same exact rerank —
    for both a small query set and the whole corpus."""
    import pytest

    from wimbd_spark.operators.similarity import (
        cosine_topk_ivf_pq_rerank,
        knn_join_pq,
    )

    emb, path = _knn_fixture(spark, tmp_path, name="kjpq", pq=True)
    small = emb.filter(F.col("vec_id") < 5)
    for qset in (small, emb):
        inter = cosine_topk_ivf_pq_rerank(
            spark, path, qset, k=3, n_candidates=6, n_probe=2
        ).collect()
        bulk = knn_join_pq(
            spark, path, qset, k=3, n_candidates=6, n_probe=2
        ).collect()
        assert sorted(map(tuple, bulk)) == sorted(map(tuple, inter))
    # adc strategies are bit-identical: "table" precomputes the ADC
    # lookup table per query, "recon" evaluates the same dot lazily
    # per pair (r14 — the table is join-carried row weight at 8-bit
    # codebooks); "auto" must equal both
    for mode in ("table", "recon"):
        rows = knn_join_pq(
            spark, path, emb, k=3, n_candidates=6, n_probe=2, adc=mode
        ).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, inter))
    with pytest.raises(ValueError, match="adc"):
        knn_join_pq(spark, path, emb, adc="magic")
    # validation: a plain (non-PQ) index refuses with a pointer
    emb2, plain = _knn_fixture(spark, tmp_path, name="kjpq_plain")
    with pytest.raises(ValueError, match="no pq_codebooks"):
        knn_join_pq(spark, plain, emb2)
    with pytest.raises(ValueError, match="n_candidates"):
        knn_join_pq(spark, path, emb, k=5, n_candidates=3)


def test_ivf_pq_wide_cb_zero_norm_and_query_guard(spark, tmp_path, monkeypatch):
    """ADVICE r14 (low) + VERDICT r14 item 4, both on the wide-codebook
    driver-side ADC strategy of cosine_topk_ivf_pq_indexed:

    - a zero-norm (all-zero) query vector crashed BOTH strategies
      (ZeroDivisionError in the wide path's driver loop, ANSI
      DIVIDE_BY_ZERO in the narrow path's _unit) — such queries have
      no direction, so both strategies now skip them like NULL
      vectors and must agree: no rows for that query, same rows for
      the others;
    - the path collects the query set to build ADC tables, so a bulk
      corpus-as-queries call would silently OOM the driver — above
      _ADC_WIDE_MAX_QUERIES it must raise, pointing at knn_join_pq."""
    import math
    import random

    import wimbd_spark.operators.similarity as sim
    from wimbd_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk_ivf_pq_indexed,
    )

    rng = random.Random(17)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivfpq_wide")
    build_ivf_index(emb, path, n_centroids=2, pq_m=2, pq_codes=4)
    queries = spark.createDataFrame(
        [(0, rows[0][1]), (1, rows[1][1]), (999, [0.0] * 8)],
        "vec_id long, embedding array<double>",
    )

    narrow = cosine_topk_ivf_pq_indexed(
        spark, path, queries, k=3, n_probe=2
    ).collect()
    # force the wide (broadcast-data ADC) strategy on the same input
    monkeypatch.setattr(sim, "_CB_LITERAL_MAX_DOUBLES", 1)
    wide = cosine_topk_ivf_pq_indexed(
        spark, path, queries, k=3, n_probe=2
    ).collect()

    def keyed(rs):
        return sorted(
            (
                r["query_id"],
                r["neighbor_id"],
                None if r["approx_cosine"] is None
                else round(r["approx_cosine"], 9)
                if not math.isnan(r["approx_cosine"])
                else "nan",
                r["rank"],
            )
            for r in rs
        )

    assert keyed(wide) == keyed(narrow)
    # the zero-norm query is skipped on both paths (cosine undefined);
    # the well-formed query still answers
    assert not [r for r in wide if r["query_id"] == 999]
    assert not [r for r in narrow if r["query_id"] == 999]
    assert len([r for r in wide if r["query_id"] == 0]) == 3

    # bulk misuse raises loudly instead of collecting the corpus
    monkeypatch.setattr(sim, "_ADC_WIDE_MAX_QUERIES", 1)
    with pytest.raises(ValueError, match="knn_join_pq"):
        cosine_topk_ivf_pq_indexed(spark, path, queries, k=3, n_probe=2)


def test_lit_doubles_bit_identical(spark):
    """r15 optimization: the one-parser-call literal builders must be
    bit-identical to the per-element F.lit form (incl. subnormals,
    ±0.0, extremes) — they carry the PQ codebooks and LSH planes."""
    import struct

    from wimbd_spark.operators.similarity import (
        _lit_double_matrix,
        _lit_doubles,
    )

    vals = [
        0.0, -0.0, 1.0, -1.5, 1e-300, 4.9e-324, 1.7976931348623157e308,
        -2.2250738585072014e-308, 0.1, 1 / 3, float("nan"),
        float("inf"), float("-inf"), 12345678.9, 1e-5,
    ]
    df = spark.range(1).select(
        F.array(*[F.lit(float(x)) for x in vals]).alias("a"),
        _lit_doubles(vals).alias("b"),
        _lit_double_matrix([vals, vals[:3]]).alias("m"),
    )
    assert df.schema["b"].dataType.simpleString() == "array<double>"
    assert (
        df.schema["m"].dataType.simpleString() == "array<array<double>>"
    )
    row = df.collect()[0]
    pack = lambda x: struct.pack("<d", x)
    assert [pack(x) for x in row["a"]] == [pack(x) for x in row["b"]]
    assert [pack(x) for x in row["m"][0]] == [pack(x) for x in row["a"]]
    assert row["m"][1] == row["a"][:3]
