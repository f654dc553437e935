"""Catalog wave 16 (round 3): curation pipeline v3 over the wave-12+
operator set — line-level boilerplate removal → bigram-LM quality
filter → temperature mixture sampling → token-budget context packing,
composed as ONE lazy plan and value-checked end-to-end by a full SQL
restatement (the same bar pipe_curation / pipe_curation_v2 set for
the earlier operator waves)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import normalize_text
from ..operators.linedup import drop_boilerplate_lines
from ..operators.lm import bigram_lm_score
from ..operators.packing import pack_context_windows
from ..operators.sampling import temperature_sample
from .catalog import _register, _t
from .catalog_text import norm_sql, tokcnt_sql

_LINE_W = 6          # tokens per derived line (matches ld_boilerplate)
_LM_T = 34_000       # keep mean_p_micro >= T (~60% of docs at sf0.01)
_MIX_C = 6.0         # temperature budget constant
_BUDGET = 256        # context window tokens
_NORM = norm_sql()
_CLEAN_NORM = norm_sql("text")  # cleaned CTE exposes its text as `text`

_V3_ORACLE = f"""
WITH toks0 AS (
  SELECT doc_id,
         generate_subscripts(string_split({_NORM}, ' '), 1) - 1 AS pos,
         unnest(string_split({_NORM}, ' ')) AS tok
  FROM documents
), linerows AS (
  SELECT doc_id, pos // {_LINE_W} AS line_no,
         string_agg(tok, ' ' ORDER BY pos) AS line
  FROM toks0 GROUP BY doc_id, pos // {_LINE_W}
), freq AS (
  SELECT line, count(DISTINCT doc_id) AS nd FROM linerows GROUP BY line
), cleaned AS (
  SELECT l.doc_id,
         string_agg(l.line, chr(10) ORDER BY l.line_no) AS text
  FROM linerows l JOIN freq f ON l.line = f.line
  WHERE f.nd < 2
  GROUP BY l.doc_id
), ctoks AS (
  SELECT doc_id,
         generate_subscripts(string_split({_CLEAN_NORM}, ' '), 1) AS pos,
         unnest(string_split({_CLEAN_NORM}, ' ')) AS tok
  FROM cleaned
), bg AS (
  SELECT a.doc_id, a.tok AS prev, b.tok AS cur
  FROM ctoks a JOIN ctoks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
), c2 AS (
  SELECT prev, cur, CAST(count(*) AS BIGINT) AS c2
  FROM bg GROUP BY prev, cur
), c1 AS (
  SELECT prev, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY prev
), vocab AS (
  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM ctoks
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
), lmagg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(p_micro) AS BIGINT) AS sum_p_micro
  FROM per_tok GROUP BY doc_id
), lmkept AS (
  SELECT c.doc_id, c.text
  FROM cleaned c JOIN lmagg a ON c.doc_id = a.doc_id
  WHERE a.sum_p_micro // a.n_bigrams >= {_LM_T}
), langd AS (
  SELECT k.doc_id, k.text, d.lang
  FROM lmkept k JOIN documents d ON k.doc_id = d.doc_id
), cstat AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_stratum,
         least(1.0, {_MIX_C!r} / sqrt(CAST(count(*) AS DOUBLE))) AS rate
  FROM langd GROUP BY lang
), rth AS (
  SELECT lang, n_stratum, rate,
         lpad(lower(hex(CAST(floor(rate * 4294967296.0) AS BIGINT))),
              8, '0') AS thr_hex
  FROM cstat
), sampled AS (
  SELECT t.doc_id, t.text
  FROM langd t JOIN rth USING (lang)
  WHERE rate >= 1.0
     OR substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 8) < thr_hex
), t AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {tokcnt_sql('text')} AS n_tokens
  FROM sampled
), p AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - n_tokens AS before
  FROM t
)
SELECT CAST(floor(before / {_BUDGET}) AS BIGINT) AS window_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM p GROUP BY 1
"""


@_register("pipe_curation_v3", _V3_ORACLE, bench=True)
def pipe_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation v3, one lazy plan over the wave-12+ set:
    derive 6-token lines → drop corpus-boilerplate lines (hash-keyed
    frequency + in-order reassembly) → self-trained bigram-LM filter
    (mean_p_micro >= T, integer micro-units) → temperature mixture
    sampling over lang (broadcast rates, md5 thresholds) → 256-token
    context packing (two-level prefix sum) → per-window rollup with an
    id checksum. The oracle restates every stage, so stage interplay —
    LM counts trained on CLEANED text, sampling strata counted AFTER
    the filter, packing order over the sampled survivors — is
    value-checked end to end."""
    from ..operators.linedup import tokens_to_lines

    docs = _t(spark, sf_dir, "documents")
    # shuffle-free line derivation (pure projection; see
    # operators/linedup.tokens_to_lines) — removes three exchanges
    # from the front of the pipeline vs the explode+groupBy form
    ml = docs.select(
        "doc_id", tokens_to_lines(F.col("text"), _LINE_W).alias("text")
    )
    # `cleaned` feeds four DAG branches (LM train counts, LM doc
    # bigrams, the keep-join, the packing token counts). Measured at
    # sf0.1 (3-run noop): ReusedExchange alone ~7.2s, persist() ~8.4s
    # (cache-build + memory churn beats the sharing it buys), eager
    # localCheckpoint ~4.5s — it truncates the 4-way recomputation AND
    # the lineage, and the post-checkpoint stages re-plan against the
    # materialized size. At cluster scale localCheckpoint's
    # executor-local blocks trade fault-tolerance for exactly this
    # speedup (a lost executor forces a job restart); checkpoint() to
    # reliable storage is the durable variant of the same cut —
    # cut_lineage keeps both behind one knob (SFDW_RELIABLE_CHECKPOINT;
    # A/B numbers in ARCHITECTURE.md round-7 notes). Both modes are
    # lazy: materialize on the FIRST ACTION, not at
    # DataFrame-construction time — plan-only consumers (plan-shape
    # tests, tools/plan_digest.py) must not trigger the pipeline job.
    from ..operators.checkpointing import cut_lineage

    # The checkpoint stores the SPLIT TOKEN ARRAY, not the text (r14,
    # guide §1.2): everything below `cleaned` consumes tokens only —
    # the LM's three corpus branches and the packing token count —
    # so materializing post-split skips the normalize regex + split
    # 4x per action. Same bytes checkpointed (array vs string), same
    # token stream by construction (empty text ⇒ [''], handled by
    # token_count_from_tokens / the LM's size>=2 gate). Measured
    # noop-sink A/B at sf0.1: 4.37/3.74 s → 3.63/3.26 s.
    from ..functions.text import token_count_from_tokens

    cleaned = cut_lineage(
        drop_boilerplate_lines(ml, min_docs=2)
        .where(F.col("n_kept") > 0)
        .select(
            "doc_id",
            F.split(normalize_text(F.col("text")), " ").alias("toks"),
        )
    )
    scores = bigram_lm_score(cleaned, text_col="toks", pretokenized=True)
    # narrow BEFORE the tail joins (r14, guide §2.3 "project before
    # the exchange"): everything below the LM filter consumes only
    # the token COUNT, yet the old form dragged the token ARRAY
    # through the filter join, the lang join, the sampling
    # broadcast-join and into the packer. Projecting (doc_id,
    # n_tokens) off the checkpoint first moves two ints + lang
    # through those exchanges instead of the array payload — at
    # corpus scale the tail shuffles metadata, not documents (the
    # guide §8 proxy rule). Local A/B: wash on best (3.76 vs
    # 3.84 s), tighter spread; identical output asserted.
    counts = cleaned.select(
        "doc_id", token_count_from_tokens(F.col("toks")).alias("n_tokens")
    )
    lmkept = counts.join(
        scores.where(F.col("mean_p_micro") >= _LM_T).select("doc_id"),
        "doc_id",
    )
    # Second lazy lineage cut (r15, guide §5/§3.3): below this point
    # the tail has three branch points — the sampling rates aggregate,
    # the packer's bucket-offset aggregate, and the packer's window —
    # and Catalyst replays everything above each branch: the pre-AQE
    # r14 plan printed the bigram-LM aggregation pipeline FOUR times
    # (plans/r14/pipe_curation_v3_after.txt in git commit bbd9b9e,
    # zero ReusedExchange).
    # Cutting at langd materializes three narrow columns (doc_id,
    # n_tokens, lang — ints + a short string, token arrays never
    # reach it) so every branch scans that instead of re-running the
    # LM. Interleaved A/B at sf0.1 (4 reps, tools/r15_ab_v3_cut.py in
    # git commit bbd9b9e):
    # count best 3.69 → 3.11 s, noop 3.42 → 2.93 s; output identical.
    langd = cut_lineage(
        lmkept.join(docs.select("doc_id", "lang"), "doc_id")
    )
    sampled = temperature_sample(langd, "lang", _MIX_C)
    t = sampled.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "n_tokens"
    )
    packed = pack_context_windows(t, budget=_BUDGET, bucket_width=64)
    return packed.groupBy("window_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


from ..operators.splits import assign_split, assign_split_oracle_sql  # noqa: E402


@_register(
    "txt_split_assign",
    f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           {assign_split_oracle_sql()} AS split
    FROM documents
    """,
)
def txt_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (operators/splits.py):
    md5-prefix thresholds, so a doc's split is a pure function of its
    id — stable under reruns, repartitioning, and corpus growth
    (randomSplit ties samples to partition layout; this doesn't)."""
    docs = _t(spark, sf_dir, "documents")
    return assign_split(docs).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "split"
    )
