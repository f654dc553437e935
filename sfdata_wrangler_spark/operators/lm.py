"""N-gram language-model quality scoring (beyond-reference surface).

CCNet-style corpus curation scores every document with a small n-gram
LM and filters/buckets on the score (Wenzek et al., "CCNet: Extracting
High Quality Monolingual Datasets from Web Crawl Data"). This operator
is the distributed form of that primitive: train bigram counts on a
(possibly different) reference corpus, then score each document by the
mean smoothed conditional likelihood of its token transitions.

Architecture — counts are aggregates, scoring is an equi-join:

1. Bigram extraction is one ``explode`` of ``arrays_zip(slice(toks, 1,
   n-1), slice(toks, 2, n-1))`` — a single corpus pass, no self-join,
   no UDF.
2. Training counts ``c2(prev, cur)`` are a map-side-combinable groupBy;
   context counts ``c1(prev)`` are a second groupBy *over c2* (Zipf
   makes both tiny relative to the corpus — token-type counts, not
   token occurrences).
3. Vocabulary size ``V`` is a 1-row aggregate, broadcast.
4. Scoring joins the document bigram stream against ``c2``/``c1`` by
   bigram key — broadcastable when the model fits the threshold,
   otherwise a shuffle equi-join where AQE's skew-join splits the
   hot-context keys (stopword prefixes are the classic skew).
5. One groupBy(doc) finishes the score. Everything stays in
   whole-stage codegen; there is no Python in the pipeline.

Determinism (DuckDB-oracle hash parity): add-one smoothing
``p = (c2 + 1) / (c1 + V)`` is built from IEEE basic ops only — no
``ln``/``exp`` whose last-ulp rounding differs across engines (same
policy as operators/retrieval.py). Per-token probabilities are scaled
to integer micro-units BEFORE the per-doc sum, so accumulation order
cannot perturb totals; the per-doc mean uses integer division. A true
log-perplexity is a one-line swap where cross-engine bit-parity is not
required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ._cache import tracked_persist

from ..functions.text import normalize_text


def _bigrams(df: DataFrame, id_col: str, toks_col: str) -> DataFrame:
    """One row per adjacent token pair: (id, prev, cur)."""
    toks = F.col(toks_col)
    pairs = F.when(
        F.size(toks) >= 2,
        F.arrays_zip(
            F.slice(toks, 1, F.size(toks) - 1).alias("prev"),
            F.slice(toks, 2, F.size(toks) - 1).alias("cur"),
        ),
    ).otherwise(F.array())
    return df.select(
        F.col(id_col), F.explode(pairs).alias("bg")
    ).select(id_col, F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))


def bigram_lm_score(
    docs: DataFrame,
    train: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    pretokenized: bool = False,
) -> DataFrame:
    """Score each document by mean add-one-smoothed bigram likelihood.

    ``train`` is the corpus the LM counts come from (defaults to
    ``docs`` — self-scoring, the CCNet in-domain setup). Returns
    ``(id_col, n_bigrams, sum_p_micro, mean_p_micro)``; documents with
    fewer than two tokens score 0 over 0 bigrams. Higher mean = more
    predictable under the reference distribution.

    The c2 pair-count table is NOT persisted, by measurement (r5,
    sf0.1, idle, noop sink): standalone a persist is a wash (best
    1.20s plain vs 1.30s persisted), and inside pipe_curation_v3 —
    where the input is already checkpointed — it COSTS ~1.1s
    (4.6s → 5.75s): Spark does not re-optimize through an
    InMemoryRelation boundary
    (``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``
    defaults false), so the cached aggregation loses AQE coalescing.

    ``pretokenized=True`` (r14, guide §1.2): ``text_col`` holds the
    ALREADY-split token array ``split(normalize_text(text), ' ')``
    instead of raw text. A caller that already materialized the
    tokens (pipe_curation_v3's checkpoint) skips the tokenizer.
    Scores are bit-identical — same token stream by construction,
    including the [''] single-element array an empty text normalizes
    to.

    RAW text is tokenized once into a tracked persist (r14, guide
    §4/§5), so the three corpus branches (training counts,
    vocabulary, document bigrams) share one normalize-regex + split
    evaluation instead of re-running it each (interleaved noop A/B at
    sf0.1, self-scored: 1.22/1.25/1.45 s → **0.76/0.83/0.87 s**).
    Token-stream-sized cache (the linedup/spandedup trade); released
    via release_operator_caches / cache_scope. It sits BELOW every
    aggregation, so nothing loses AQE coalescing (the r5
    counter-finding above does not apply).
    """
    train = docs if train is None else train
    if not pretokenized:

        def _tok(df: DataFrame) -> DataFrame:
            return tracked_persist(
                df.select(
                    F.col(id_col),
                    F.split(normalize_text(F.col(text_col)), " ").alias(
                        "__toks"
                    ),
                )
            )

        docs_t = _tok(docs)
        train = docs_t if train is docs else _tok(train)
        docs, text_col = docs_t, "__toks"

    train_bg = _bigrams(train, id_col, text_col)
    c2 = train_bg.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).cast("bigint").alias("c2")
    )
    c1 = c2.groupBy("prev").agg(F.sum("c2").cast("bigint").alias("c1"))
    vocab = train.select(F.explode(F.col(text_col)).alias("tok")).agg(
        F.count_distinct("tok").cast("bigint").alias("v")
    )

    doc_bg = _bigrams(docs, id_col, text_col)
    scored = (
        doc_bg.join(c2, ["prev", "cur"], "left")
        .join(c1, "prev", "left")
        .crossJoin(F.broadcast(vocab))
    )
    # identical parenthesization to the oracle SQL (IEEE basic ops only)
    p = (
        F.coalesce(F.col("c2"), F.lit(0)).cast("double") + F.lit(1.0)
    ) / (F.coalesce(F.col("c1"), F.lit(0)).cast("double") + F.col("v").cast("double"))
    per_tok = scored.select(
        F.col(id_col),
        F.floor(p * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("p_micro"),
    )
    agg = per_tok.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum("p_micro").cast("bigint").alias("sum_p_micro"),
    )
    base = docs.select(F.col(id_col))
    return base.join(agg, id_col, "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
        F.coalesce("sum_p_micro", F.lit(0)).cast("bigint").alias("sum_p_micro"),
        F.when(
            F.coalesce(F.col("n_bigrams"), F.lit(0)) > 0,
            F.expr("sum_p_micro div n_bigrams"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("mean_p_micro"),
    )


def bigram_lm_oracle_sql(
    table: str = "documents",
    id_sql: str = "doc_id",
) -> str:
    """DuckDB oracle for :func:`bigram_lm_score` (self-scored): the
    same counts and smoothing stated relationally, bigrams built by a
    position self-join, with literally the same score parenthesization.
    """
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
    WITH toks AS (
      SELECT {id_sql} AS doc_id,
             generate_subscripts(string_split({norm}, ' '), 1) AS pos,
             unnest(string_split({norm}, ' ')) AS tok
      FROM {table}
    ), bg AS (
      SELECT a.doc_id, a.tok AS prev, b.tok AS cur
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ), c2 AS (
      SELECT prev, cur, CAST(count(*) AS BIGINT) AS c2
      FROM bg GROUP BY prev, cur
    ), c1 AS (
      SELECT prev, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY prev
    ), vocab AS (
      SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM toks
    ), per_tok AS (
      SELECT bg.doc_id,
             CAST(floor(
               (CAST(coalesce(c2.c2, 0) AS DOUBLE) + 1.0)
                 / (CAST(coalesce(c1.c1, 0) AS DOUBLE) + CAST(vocab.v AS DOUBLE))
               * 1e6 + 0.5) AS BIGINT) AS p_micro
      FROM bg
      LEFT JOIN c2 ON bg.prev = c2.prev AND bg.cur = c2.cur
      LEFT JOIN c1 ON bg.prev = c1.prev
      CROSS JOIN vocab
    ), agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(p_micro) AS BIGINT) AS sum_p_micro
      FROM per_tok GROUP BY doc_id
    )
    SELECT CAST(d.{id_sql} AS BIGINT) AS doc_id,
           CAST(coalesce(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(coalesce(agg.sum_p_micro, 0) AS BIGINT) AS sum_p_micro,
           CAST(CASE WHEN coalesce(agg.n_bigrams, 0) > 0
                THEN agg.sum_p_micro // agg.n_bigrams ELSE 0 END AS BIGINT)
             AS mean_p_micro
    FROM {table} d LEFT JOIN agg ON d.{id_sql} = agg.doc_id
    """
