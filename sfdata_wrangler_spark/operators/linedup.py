"""Line-level boilerplate removal (beyond-reference surface).

The C4/CCNet curation step the document-level dedup family can't
express: web corpora repeat individual LINES across documents (cookie
banners, nav menus, license footers) far more than whole documents.
The fix is corpus-global — count every line's distinct-document
frequency, drop lines above a threshold, reassemble the documents.

Architecture — three linear passes, no UDF anywhere:

1. ``posexplode(split(text, sep))`` — one explode, linear in corpus
   lines; position is kept so documents reassemble in order.
2. Line frequency is a groupBy on ``md5(line)`` — a fixed 32-char key,
   so the shuffle carries hashes, not line text. Boilerplate lines are
   precisely the skewed keys; counting is map-side combinable, and the
   count table is one row per DISTINCT line (small under Zipf).
3. The filter join is line-hash ⨝ broadcast-able count dim (falls back
   to a shuffle equi-join with AQE skew splitting when the distinct
   line set outgrows the broadcast threshold), then one groupBy(doc)
   reassembles: ``array_sort(collect_list(struct(pos, line)))`` →
   ``concat_ws`` — sort-within-group over a document's own lines only,
   never a global sort.

Documents whose every line is boilerplate survive as empty strings
(n_kept = 0) — dropping them is the caller's policy decision.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._cache import tracked_persist


def tokens_to_lines(text: Column, width: int, sep: str = "\n") -> Column:
    """Fold a whitespace-token text into lines of ``width`` tokens, as
    a PURE PROJECTION — no explode, no groupBy. The quadratic
    re-evaluation trap (functions/text.word_shingles) applies only
    when a Generate consumes the transform-built array; here
    ``concat_ws`` consumes it, so it is evaluated once per row.
    Measured 2x faster than the posexplode + two-groupBy construction
    and removes three shuffles from downstream pipelines."""
    from ..functions.text import normalize_text

    toks = F.split(normalize_text(text), " ")
    n_lines = F.ceil(F.size(toks) / width).cast("int")
    return F.concat_ws(
        sep,
        F.transform(
            F.sequence(F.lit(0), n_lines - 1),
            lambda i: F.array_join(F.slice(toks, i * width + 1, width), " "),
        ),
    )


def drop_boilerplate_lines(
    docs: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Remove every line that occurs in >= ``min_docs`` distinct
    documents; return ``(id_col, text, n_lines, n_kept)`` with
    ``text`` rebuilt from the surviving lines in original order.

    Line identity is the raw line string (hashed for the shuffle);
    normalize upstream if e.g. case-insensitive matching is wanted.

    The exploded line stream is persisted — its two consumers (the
    distinct-doc frequency aggregate and the reassembly pass) would
    otherwise each re-run the upstream text projection + explode +
    per-line md5, the dominant map cost (the same trade
    spandedup.duplicate_spans documents; measured r14 on
    pipe_curation_v3's input: 2.10-2.23 s → 1.43-1.58 s noop).
    Released by ``release_operator_caches`` / ``cache_scope``."""
    lines = tracked_persist(
        docs.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), sep)).alias(
                "__pos", "__line"
            ),
        ).withColumn("__lh", F.md5(F.col("__line")))
    )

    # ONLY the boilerplate hashes (the Zipf head — far smaller than
    # the full distinct-line table the old inner-join carried)
    if min_docs == 2:
        # "in >= 2 distinct docs" ⇔ min(id) != max(id): one plain
        # combinable aggregate = ONE exchange of the line stream,
        # where the distinct-count rewrite plans two (Exchange on
        # (hash, id), then on hash) — guide §2.3/§2.4; NULL-id
        # handling identical (min/max and count_distinct both skip).
        boiler = (
            lines.groupBy("__lh")
            .agg(F.min(id_col).alias("__mn"), F.max(id_col).alias("__mx"))
            .where(F.col("__mn") != F.col("__mx"))
            .select("__lh", F.lit(1).alias("__b"))
        )
    else:
        boiler = (
            lines.groupBy("__lh")
            .agg(F.count_distinct(id_col).cast("bigint").alias("__nd"))
            .where(F.col("__nd") >= min_docs)
            .select("__lh", F.lit(1).alias("__b"))
        )

    # ONE groupBy(doc) computes totals, kept count and the in-order
    # reassembly together (r14 optimization, guide §2.4): the old
    # three-branch form (freq inner-join + reassembled groupBy +
    # totals groupBy + final left join) evaluated the `lines` explode
    # THREE times per action and shuffled the doc stream twice; this
    # evaluates it twice (frequency pass + this one), drops a join
    # and an exchange, and marks boilerplate with a left join against
    # the boiler-only dim (collect_list skips the NULL structs, so
    # the reassembly and the kept-count share one conditional).
    marked = lines.join(boiler, "__lh", "left")
    kept_struct = F.when(
        F.col("__b").isNull(), F.struct("__pos", "__line")
    )
    return marked.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda x: x["__line"],
            ),
        ).alias("text"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.count(F.when(F.col("__b").isNull(), F.lit(1)))
        .cast("bigint")
        .alias("n_kept"),
    ).select(id_col, "text", "n_lines", "n_kept")
