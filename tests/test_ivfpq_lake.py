"""The persisted IVF-PQ lake layout (s19_ivfpq_lake): writing the
code table PARTITIONED BY cid must make the probed-cell read an
actually-pruned scan (measured via FileSourceScan metrics, the same
measured-fact discipline as test_zorder.py), and pruning must not
change the search result."""

from __future__ import annotations

from pyspark.sql import functions as F

from sfdata_wrangler_spark.operators.pq import (
    ivf_coarse_centroids,
    ivfpq_index,
    ivfpq_topk,
    probed_cells,
)
from sfdata_wrangler_spark.sources.lake import (
    scan_file_metrics,
    write_partitioned,
)

SF = "/root/testdata/sf0.001"
N_PROBE = 2


def _lake(spark, tmp_path_factory):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = ivf_coarse_centroids(emb)
    cb, enc = ivfpq_index(emb, cents)
    path = str(tmp_path_factory.mktemp("ivfpq_lake") / "codes")
    write_partitioned(enc, path, partition_cols=("cid",))
    return emb, cents, cb, enc, path


def _probed_cids(queries, cents):
    return sorted(
        r["cid"]
        for r in probed_cells(queries, cents, n_probe=N_PROBE)
        .select("cid")
        .distinct()
        .collect()
    )


def test_probed_scan_prunes_partitions_measurably(spark, tmp_path_factory):
    emb, cents, cb, enc, path = _lake(spark, tmp_path_factory)
    queries = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cids = _probed_cids(queries, cents)
    assert 1 <= len(cids) <= 2 * N_PROBE  # nq * n_probe bound

    full = scan_file_metrics(spark.read.parquet(path))
    pruned = scan_file_metrics(
        spark.read.parquet(path).where(F.col("cid").isin(cids))
    )
    # 10 labels -> 10 cid partitions; <= 4 probed cells survive
    assert full["num_partitions"] == 10
    assert pruned["num_partitions"] == len(cids)
    assert pruned["num_files"] < full["num_files"]
    # the pruned scan read exactly the probed cells' rows
    probed_rows = (
        spark.read.parquet(path).where(F.col("cid").isin(cids)).count()
    )
    assert pruned["rows"] == probed_rows < full["rows"]


def test_pruned_lake_search_equals_unpruned(spark, tmp_path_factory):
    emb, cents, cb, enc, path = _lake(spark, tmp_path_factory)
    queries = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cids = _probed_cids(queries, cents)

    cid_type = dict(enc.dtypes)["cid"]

    def _search(encoded):
        return sorted(
            (r["query_id"], r["vec_id"], r["adc_d2"], r["exact_d2"], r["rank"])
            for r in ivfpq_topk(
                queries, encoded, cents, cb, emb, k=5, n_probe=N_PROBE
            ).collect()
        )

    lake_pruned = (
        spark.read.parquet(path)
        .where(F.col("cid").isin(cids))
        .withColumn("cid", F.col("cid").cast(cid_type))
    )
    lake_full = spark.read.parquet(path).withColumn(
        "cid", F.col("cid").cast(cid_type)
    )
    a = _search(lake_pruned)
    assert a == _search(lake_full) == _search(enc)
    assert len(a) == 10  # 2 queries x k=5


def test_serve_artifacts_amortize_within_session(spark):
    """emb_ivfpq_serve (r9): the first call builds the persisted
    artifacts, later calls in the same session serve without
    rebuilding (the _BUILT marker pins the bootstrap), and results
    are identical either way."""
    import os

    from sfdata_wrangler_spark.plans.catalog36 import _ivfpq_artifacts
    from sfdata_wrangler_spark.plans.catalog import QUERIES

    sf = "/root/testdata/sf0.001"
    root = _ivfpq_artifacts(spark, sf)
    marker = os.path.join(root, "_BUILT")
    assert os.path.exists(marker)
    mtime = os.path.getmtime(marker)

    fn = QUERIES["emb_ivfpq_serve"]["fn"]
    first = sorted(map(tuple, fn(spark, sf).collect()))
    assert os.path.getmtime(marker) == mtime  # no rebuild
    second = sorted(map(tuple, fn(spark, sf).collect()))
    assert first == second
    # artifacts live under the repo-owned app-scoped scratch, not a
    # world-shared tempdir (ADVICE r8 #2)
    assert spark.sparkContext.applicationId in root
    assert "/.scratch/" in root


def test_trained_quantizer_ivfpq_recall(spark):
    """The r9 trained-coarse-quantizer IVF-PQ: with NO label column
    involved, search quality must hold — recall@5 vs brute-force
    cosine >= 0.5 at n_probe=2 of 8 learned cells (ADC is a lossy
    approximation; the floor pins 'the learned cells are real
    structure', not ANN perfection)."""
    from sfdata_wrangler_spark.operators.similarity import cosine_topk
    from sfdata_wrangler_spark.plans.catalog import QUERIES

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(sf + "/embeddings.parquet")
    queries = emb.where("vec_id < 3").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    brute = cosine_topk(queries, emb, k=5)
    approx = QUERIES["emb_ivfpq_trained_topk"]["fn"](spark, sf)
    b = {(r.query_id, r.vec_id) for r in brute.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(a & b) / len(b)
    assert recall >= 0.5, f"recall {recall}"


def test_fully_trained_ivfpq_recall_and_codebook_quality(spark):
    """emb_ivfpq_fully_trained (r9): trained codebooks must (a) hold
    recall@5 >= 0.5 vs brute force and (b) quantize residuals at
    least as well as their own SEED codebook (the Lloyd's monotone
    guarantee, up to integer-division rounding — a comparison vs the
    independent id%n_codes baseline is NOT guaranteed in general and
    would be fixture-luck; code-review r9 pass-3 #7), measured as
    total squared quantization error over the encoded corpus."""
    from pyspark.sql import functions as F

    from sfdata_wrangler_spark.operators.pq import (
        _coarse_assign,
        _residual_lf,
        ivf_coarse_distances,
        pq_codebooks_trained,
    )
    from sfdata_wrangler_spark.operators.similarity import cosine_topk
    from sfdata_wrangler_spark.plans.catalog import QUERIES
    from sfdata_wrangler_spark.plans.catalog37 import (
        trained_coarse_centroids,
    )

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(sf + "/embeddings.parquet")
    queries = emb.where("vec_id < 3").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    brute = cosine_topk(queries, emb, k=5)
    approx = QUERIES["emb_ivfpq_fully_trained"]["fn"](spark, sf)
    b = {(r.query_id, r.vec_id) for r in brute.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    assert len(a & b) / len(b) >= 0.5

    cents = trained_coarse_centroids(spark, emb)
    assign = _coarse_assign(ivf_coarse_distances(emb, cents), "vec_id")
    res = _residual_lf(emb, cents, assign, 8, 8, "vec_id", "embedding")

    def qerr(cb):
        j = res.join(F.broadcast(cb), ["subspace", "dim"])
        d2 = j.groupBy("vec_id", "subspace", "code").agg(
            F.sum(
                (F.col("r_micro") - F.col("c_micro")) ** 2
            ).alias("d2")
        )
        best = d2.groupBy("vec_id", "subspace").agg(F.min("d2").alias("m"))
        return best.agg(F.sum("m")).collect()[0][0]

    trained = pq_codebooks_trained(res, n_codes=16, iterations=2)
    seed = pq_codebooks_trained(res, n_codes=16, iterations=0)
    # 1% slack: each update is an integer-division (floored) mean, so
    # strict monotonicity holds only up to quantization epsilon
    assert qerr(trained) <= qerr(seed) * 1.01


def test_serve_prunes_partitions_dynamically(spark, tmp_path):
    """VERDICT r10 ask #1: the default serve path carries NO driver-
    side probe collect — the cid-partitioned scan is pruned by a
    runtime dynamicpruning subquery inside the one search job, and
    the static fallback a DPP-disabled session takes returns
    identical rows."""
    import os

    from pyspark.sql import functions as F

    from sfdata_wrangler_spark.plans.catalog import _t
    from sfdata_wrangler_spark.plans.catalog36 import _ivfpq_artifacts
    from sfdata_wrangler_spark.operators.pq import serve_pruned

    sf = "/root/testdata/sf0.001"
    root = _ivfpq_artifacts(spark, sf)
    emb = _t(spark, sf, "embeddings")
    cents = spark.read.parquet(os.path.join(root, "cents"))
    cb = spark.read.parquet(os.path.join(root, "cb"))
    queries = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    kw = dict(k=3, n_probe=2, shortlist=16, m=8, sub_dim=8)
    dyn = serve_pruned(
        queries, os.path.join(root, "codes"), cents, cb, emb, **kw
    )
    plan = dyn._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    dpp = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    prev = spark.conf.get(dpp)
    spark.conf.set(dpp, "false")
    try:
        static = serve_pruned(
            queries, os.path.join(root, "codes"), cents, cb, emb, **kw
        )
        static_plan = static._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" not in static_plan.lower()
        static_rows = static.collect()
    finally:
        spark.conf.set(dpp, prev)
    assert sorted(map(tuple, dyn.collect())) == sorted(
        map(tuple, static_rows)
    )


def test_serve_cache_hits_and_invalidates(spark, tmp_path):
    """The generation-resolved artifact cache returns the SAME
    LocalRelation object on a hit, a fresh one when the token moves,
    and its values match the parquet source exactly."""
    from sfdata_wrangler_spark.operators import serve_cache

    src = spark.createDataFrame(
        [(i, i * 10) for i in range(5)], "cid int, c_micro bigint"
    )
    path = str(tmp_path / "art")
    src.write.mode("overwrite").parquet(path)
    serve_cache.invalidate()
    a = serve_cache.cached_local_artifact(spark, path, "t0")
    b = serve_cache.cached_local_artifact(spark, path, "t0")
    assert a is b
    assert sorted(map(tuple, a.collect())) == [
        (i, i * 10) for i in range(5)
    ]
    assert "LocalRelation" in a._jdf.queryExecution().optimizedPlan().toString() or \
        "LocalTableScan" in a._jdf.queryExecution().executedPlan().toString()
    c = serve_cache.cached_local_artifact(spark, path, "t1")
    assert c is not a
    serve_cache.invalidate()
    d = serve_cache.cached_local_artifact(spark, path, "t0")
    assert d is not a
