"""release_operator_caches: the library-session cleanup handle for
operator-level persists (ADVICE r5 — long-lived sessions otherwise
accumulate corpus-scale cache entries with no way to drop them short
of clearCache, which evicts the caller's own caches too)."""

import datetime as dt

import pytest
from pyspark.sql import Row

from sfdata_wrangler_spark.operators import release_operator_caches
from sfdata_wrangler_spark.operators.dedup import (
    minhash_lsh_pairs,
    prefix_filter_pairs,
)
from sfdata_wrangler_spark.operators.funnel import funnel_episodes
from sfdata_wrangler_spark.operators.graph import (
    pagerank,
    pagerank_micro,
    triangle_count,
)
from sfdata_wrangler_spark.operators.linedup import drop_boilerplate_lines
from sfdata_wrangler_spark.operators.linkage import blocked_fuzzy_pairs
from sfdata_wrangler_spark.operators.lm import bigram_lm_score
from sfdata_wrangler_spark.operators.pq import (
    ivf_coarse_centroids,
    ivfpq_index,
)
from sfdata_wrangler_spark.operators.spandedup import (
    duplicate_spans,
    remove_duplicate_spans,
)


def _docs(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog today",
        "the quick brown fox jumps over the lazy cat today",
        "a completely different document about spark engines",
    ]
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


def _line_docs(spark):
    return spark.createDataFrame(
        [
            (1, "cache release header\nbody one"),
            (2, "cache release header\nbody two"),
        ],
        "doc_id bigint, text string",
    )


def _edges(spark):
    # a triangle (1, 2, 3) plus a tail
    return spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src bigint, dst bigint"
    )


def _names(spark):
    return spark.createDataFrame(
        [("cache releasex",), ("cache releasey",), ("cache releasez",)],
        "name string",
    )


def _events(spark):
    t0 = dt.datetime(2021, 6, 1, 8, 0, 0)
    rows = [
        (1, t0, "view"),
        (1, t0 + dt.timedelta(seconds=5), "buy"),
        (2, t0, "view"),
    ]
    return spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_type string"
    )


def _emb(spark):
    rows = [
        (c * 10 + i, [float(c) + 0.01 * i] * 16, c)
        for c in range(2)
        for i in range(3)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def _ivfpq(spark):
    emb = _emb(spark)
    cents = ivf_coarse_centroids(emb, m=2, sub_dim=8)
    _cb, enc = ivfpq_index(emb, cents, n_codes=2, m=2, sub_dim=8)
    return enc


# Every operator that persists an intermediate, on tiny input. The
# PageRanks run three rounds so no localCheckpoint (every fourth
# round, untracked by design) adds persisted RDDs of its own.
CASES = {
    "minhash_lsh_pairs": lambda s: minhash_lsh_pairs(_docs(s)),
    "duplicate_spans": lambda s: duplicate_spans(_docs(s), k=3),
    "remove_duplicate_spans": lambda s: remove_duplicate_spans(
        _docs(s), k=3
    ),
    "drop_boilerplate_lines": lambda s: drop_boilerplate_lines(
        _line_docs(s)
    ),
    "triangle_count": lambda s: triangle_count(_edges(s)),
    "blocked_fuzzy_pairs": lambda s: blocked_fuzzy_pairs(_names(s), "name"),
    "funnel_episodes": lambda s: funnel_episodes(
        _events(s), ["view", "buy"], 60.0, max_episodes=2
    ),
    "ivf_coarse_centroids": lambda s: ivf_coarse_centroids(
        _emb(s), m=2, sub_dim=8
    ),
    "ivfpq_index": _ivfpq,
    "bigram_lm_score": lambda s: bigram_lm_score(_docs(s)),
    "pagerank": lambda s: pagerank(_edges(s), iters=3),
    "pagerank_micro": lambda s: pagerank_micro(_edges(s), iters=3),
}


def _persisted_ids(spark):
    # ids, not a count: earlier tests' localCheckpoint RDDs are also
    # persisted, and the ContextCleaner drops them whenever the JVM
    # collects garbage, so a count can fall while a test runs
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _assert_released(spark, run):
    release_operator_caches()  # isolate from other tests' leftovers
    before = _persisted_ids(spark)

    run(spark).collect()
    pinned = _persisted_ids(spark) - before
    assert pinned

    assert release_operator_caches() >= 1
    assert not pinned & _persisted_ids(spark)


def test_release_operator_caches_drops_tracked_persists(spark):
    # the persisted shingle stream of prefix_filter_pairs
    _assert_released(
        spark, lambda s: prefix_filter_pairs(_docs(s), threshold_pct=80)
    )
    # idempotent: nothing left to free
    assert release_operator_caches() == 0


@pytest.mark.parametrize("name", sorted(CASES))
def test_operator_persist_is_released(spark, name):
    _assert_released(spark, CASES[name])


def test_release_is_safe_before_any_persist(spark):
    release_operator_caches()
    assert release_operator_caches() == 0
