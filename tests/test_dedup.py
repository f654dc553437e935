"""Dedup operators: exact, MinHash LSH, SimHash, n-gram Jaccard."""

from pyspark.sql import Row

from sfdata_wrangler_spark.operators.dedup import (
    exact_dedup,
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard,
    simhash,
)

DOC = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm windowsill every single afternoon"
)
NEAR = DOC.replace("warm", "cold")  # one token differs
OTHER = (
    "completely different content about spark query engines and "
    "distributed columnar storage formats for analytics workloads"
)


def _docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text=DOC),
            Row(doc_id=2, text="  The  QUICK brown fox jumps over the lazy dog "
                               "while the cat watches from the warm windowsill "
                               "every single afternoon "),  # exact dup modulo norm
            Row(doc_id=3, text=NEAR),
            Row(doc_id=4, text=OTHER),
        ]
    )


def test_exact_dedup_normalized(spark):
    docs = _docs(spark)
    kept = exact_dedup(docs).collect()
    ids = sorted(r.doc_id for r in kept)
    assert ids == [1, 3, 4]  # 2 collapses into 1
    groups = exact_dup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0].keep_id == 1 and groups[0].n_docs == 2


def test_minhash_lsh_finds_near_dup(spark):
    docs = _docs(spark)
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, num_hashes=16, bands=8).collect()
    }
    assert (1, 2) in pairs  # exact dup always collides
    assert (1, 3) in pairs  # near dup collides in ≥1 of 8 bands
    assert (1, 4) not in pairs and (2, 4) not in pairs and (3, 4) not in pairs


def test_ngram_jaccard_values(spark):
    docs = _docs(spark)
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=1, id_b=3), Row(id_a=1, id_b=4)]
    )
    j = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard(docs, pairs).collect()}
    assert j[(1, 2)] == 1.0
    assert 0.5 < j[(1, 3)] < 1.0  # one word changed → most shingles shared
    assert j[(1, 4)] == 0.0


def test_simhash_equal_for_dups_and_near_for_neighbors(spark):
    docs = _docs(spark)
    fp = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert fp[1] == fp[2]
    ham_near = bin(fp[1] ^ fp[3]).count("1")
    ham_far = bin(fp[1] ^ fp[4]).count("1")
    assert ham_near < ham_far


def test_cluster_duplicates_components(spark):
    """Chain 1-2, 2-3 plus pair 5-6 → components {1,2,3} and {5,6}."""
    from sfdata_wrangler_spark.operators.dedup import cluster_duplicates

    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=5, id_b=6)]
    )
    got = {r.doc_id: r.cluster_id for r in cluster_duplicates(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_contamination_check(spark):
    """Eval doc fully inside train -> ratio 1; disjoint -> 0; a doc
    sharing half its shingles -> the exact fraction; short docs (< n
    tokens) drop out like the oracle's unnest."""
    from sfdata_wrangler_spark.operators.dedup import contamination_check

    train = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="pack my box with five dozen liquor jugs"),
        ]
    )
    ev = spark.createDataFrame(
        [
            Row(doc_id=10, text="the quick brown fox jumps"),  # contained
            Row(doc_id=11, text="completely novel eval sentence here"),
            # first shingle shared with train doc 1, second is novel
            Row(doc_id=12, text="over the lazy dog barks"),
            Row(doc_id=13, text="too short"),  # < 3 tokens: no shingles
        ]
    )
    got = {
        r.doc_id: (r.n_ngrams, r.n_contaminated)
        for r in contamination_check(train, ev, shingle_n=3).collect()
    }
    assert got[10] == (3, 3)
    assert got[11] == (3, 0)
    assert got[12] == (3, 2)
    assert 13 not in got


def test_pack_context_windows_equals_global_scan(spark):
    """The two-level prefix sum must equal a single global cumsum, for
    budgets/bucket widths that do and don't divide each other; windows
    cut mid-bucket and docs larger than a whole budget both occur."""
    import pandas as pd

    from sfdata_wrangler_spark.operators.packing import pack_context_windows

    rows = [(i, (i * 37) % 97 + 1) for i in range(0, 500, 3)]  # gappy ids
    pdf = pd.DataFrame(rows, columns=["doc_id", "n_tokens"])
    pdf["before"] = pdf["n_tokens"].cumsum() - pdf["n_tokens"]
    for budget, width in ((128, 16), (100, 7)):
        got = (
            pack_context_windows(
                spark.createDataFrame(pdf[["doc_id", "n_tokens"]]),
                budget=budget,
                bucket_width=width,
            )
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        assert list(got.window_id) == list(pdf.before // budget)
        assert list(got.window_offset) == list(pdf.before % budget)


def test_operators_handle_empty_inputs(spark):
    """Degenerate inputs must not crash or mislabel: empty corpora,
    empty train side, zero-token docs."""
    from sfdata_wrangler_spark.operators.dedup import contamination_check
    from sfdata_wrangler_spark.operators.packing import pack_context_windows

    empty_docs = spark.createDataFrame([], "doc_id bigint, text string")
    empty_toks = spark.createDataFrame([], "doc_id bigint, n_tokens bigint")

    assert pack_context_windows(empty_toks, budget=10).count() == 0
    # empty eval -> no rows; empty train -> nothing contaminated
    some = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e")],
    )
    assert contamination_check(some, empty_docs).count() == 0
    got = contamination_check(empty_docs, some).collect()
    assert len(got) == 1 and got[0].n_contaminated == 0
    # doc with zero tokens packs as a zero-width entry, not a crash
    z = spark.createDataFrame([Row(doc_id=1, n_tokens=0),
                               Row(doc_id=2, n_tokens=7)])
    rows = {r.doc_id: r for r in
            pack_context_windows(z, budget=5).collect()}
    assert rows[1].window_id == 0 and rows[1].window_offset == 0
    assert rows[2].window_id == 0


def test_cluster_duplicates_chain_batched_convergence(spark):
    """A 10-node chain (diameter 9 — worst case for label
    propagation) still resolves to one component, and the batched
    convergence probe fires on every 3rd round instead of every
    round."""
    from sfdata_wrangler_spark.operators.dedup import cluster_duplicates

    chain = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(9)]
    )
    out = cluster_duplicates(chain, max_iterations=20)
    rows = out.collect()
    assert len(rows) == 10
    assert all(r.cluster_id == 0 for r in rows)
    # chain of 9 edges converges within ~9 rounds; probes every 3rd
    # round → far fewer driver actions than one-per-iteration
    assert 1 <= cluster_duplicates.last_n_checks <= 5


def test_exact_jaccard_pairs_ground_truth(spark):
    """Inverted-index truth pairs: exact inter/union vs hand-computed
    shingle sets; disjoint docs produce no pair at all."""
    from sfdata_wrangler_spark.operators.dedup import exact_jaccard_pairs

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c d e"),        # shingles: abc bcd cde
            Row(doc_id=2, text="a b c d x"),        # abc bcd cdx
            Row(doc_id=3, text="q r s t u"),        # disjoint
            Row(doc_id=4, text="a b c"),            # abc
        ]
    )
    got = {
        (r.id_a, r.id_b): (r.inter, r.union_sz)
        for r in exact_jaccard_pairs(docs, shingle_n=3).collect()
    }
    assert got == {
        (1, 2): (2, 4),   # {abc,bcd} / {abc,bcd,cde,cdx}
        (1, 4): (1, 3),
        (2, 4): (1, 3),
    }


def test_pack_windows_sparse_hash_ids(spark):
    """UUID-hash-style sparse ids (63-bit span): range bucketing via
    n_buckets keeps the two-level scan ≡ the global prefix sum, and no
    per-doc window runs unpartitioned."""
    import hashlib

    from sfdata_wrangler_spark.operators.packing import pack_context_windows

    ids = sorted(
        int.from_bytes(hashlib.md5(f"doc{i}".encode()).digest()[:8], "big") >> 1
        for i in range(400)
    )
    rows = [Row(doc_id=i, n_tokens=(i % 37) + 1) for i in ids]
    df = spark.createDataFrame(rows)
    got = (
        pack_context_windows(df, budget=256, n_buckets=16)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    # global-order reference
    before = 0
    for i, r in got.iterrows():
        assert r.window_id == before // 256, (i, r.doc_id)
        assert r.window_offset == before % 256
        before += r.n_tokens

    plan = pack_context_windows(
        df, budget=256, n_buckets=16
    )._jdf.queryExecution().executedPlan().toString()
    # every Window over doc rows must be partitioned by the bucket;
    # the only allowed global-order window is the per-bucket offsets
    # (one row per bucket)
    import re

    for m in re.finditer(r"Window \[(.*?)\]", plan):
        spec = m.group(0)
        if "__bkt" not in spec:
            raise AssertionError(f"unpartitioned per-doc window: {spec}")


def test_exact_jaccard_pairs_stop_shingle_cap(spark):
    """max_doc_freq drops boilerplate shingles: a shingle present in
    every doc stops generating k^2 join rows, and inter/union shrink
    consistently (computed over surviving shingles only)."""
    from sfdata_wrangler_spark.operators.dedup import exact_jaccard_pairs

    # 'x y z' is boilerplate in all four docs; each doc also has a
    # unique tail shared with no one except doc 1/2's common 'a b c'
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="x y z a b c p1 p2"),
            Row(doc_id=2, text="x y z a b c q1 q2"),
            Row(doc_id=3, text="x y z r1 r2 r3"),
            Row(doc_id=4, text="x y z s1 s2 s3"),
        ]
    )
    uncapped = exact_jaccard_pairs(docs, shingle_n=3).collect()
    assert len(uncapped) == 6  # boilerplate links every pair
    capped = {
        (r.id_a, r.id_b): (r.inter, r.union_sz)
        for r in exact_jaccard_pairs(
            docs, shingle_n=3, max_doc_freq=2
        ).collect()
    }
    # only pairs sharing a sub-cap shingle survive
    assert set(capped) == {(1, 2)}
    inter, union = capped[(1, 2)]
    assert inter >= 1 and union > inter
