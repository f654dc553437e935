"""Substring-level (span) deduplication.

Document-level near-dedup (operators/dedup.py) misses the other
failure mode of web corpora: long VERBATIM passages — licenses,
boilerplate paragraphs, quoted articles — embedded inside otherwise
distinct documents. The remedy shape (Lee et al., "Deduplicating
Training Data Makes Language Models Better", ACL 2022) is
substring-level: find token k-gram runs shared across documents and
remove the covered spans, not the documents.

Distributed formulation (no suffix array needed — the k-gram
inverted index gives the same cross-doc repeated-substring set for
run lengths >= k):

1. positional k-grams: one per-doc split (no shuffle), gram key =
   md5 of the k-token window — 32 hex bytes shuffle per gram, never
   the text;
2. duplicated grams: groupBy gram hash, keep those in >= min_docs
   DISTINCT docs (map-side-combinable distinct count);
3. flag positions: semi-join the positional grams against the
   duplicated set — an equi join on the hash;
4. maximal spans: gaps-and-islands per doc over flagged positions
   (pos - row_number() island key), span = [min(pos),
   max(pos) + k - 1].

Every stage is an equi-shuffle on a hash key or a per-doc window —
the classic 100 TB-safe shape. ``remove_duplicate_spans`` reassembles
the surviving tokens in order via array_sort(collect_list(struct)),
the same no-global-sort reconstruction operators/linedup.py uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ._cache import tracked_persist

from ..functions.text import normalize_text

__all__ = ["positional_kgrams", "duplicate_spans", "remove_duplicate_spans"]


def positional_kgrams(
    docs: DataFrame, k: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, pos, gram_hash) for every token k-gram; pos is the
    0-based index of the gram's first token."""
    toks = docs.select(
        F.col(id_col),
        F.split(normalize_text(F.col(text_col)), " ").alias("__tk"),
    )
    # Spark's sequence(1, 0) counts DOWN — short docs must hit the
    # empty-array branch explicitly, not a descending sequence.
    gram_arr = F.when(
        F.size("__tk") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("__tk") - (k - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice("__tk", i, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select(
        id_col, F.posexplode(gram_arr).alias("pos", "gram_hash")
    )


def duplicate_spans(
    docs: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal duplicated token spans per document: ``(id, span_start,
    span_end, n_grams)`` with span_end inclusive (last covered token
    index). A span is any maximal run of k-grams each of which occurs
    in >= min_docs distinct documents.

    The positional k-gram stream is persisted — its two consumers
    (the distinct-doc frequency aggregate and the position-flagging
    semi-join) would otherwise each re-run the corpus explode +
    per-gram md5, the dominant map cost. Released by
    ``release_operator_caches`` / ``cache_scope``."""
    grams = tracked_persist(positional_kgrams(docs, k, id_col, text_col))
    if min_docs == 2:
        # "in >= 2 distinct docs" ⇔ min(id) != max(id): a plain
        # combinable aggregate, so the gram stream pays ONE exchange
        # (map-side partials per gram hash) instead of the two the
        # distinct-count rewrite plans (Exchange on (hash, id), then
        # Exchange on hash) — guide §2.3/§2.4. min/max and
        # count_distinct skip NULL ids identically.
        dup = (
            grams.groupBy("gram_hash")
            .agg(F.min(id_col).alias("__mn"), F.max(id_col).alias("__mx"))
            .where(F.col("__mn") != F.col("__mx"))
            .select("gram_hash")
        )
    else:
        dup = (
            grams.groupBy("gram_hash")
            .agg(F.countDistinct(id_col).alias("__nd"))
            .where(F.col("__nd") >= min_docs)
            .select("gram_hash")
        )
    flagged = grams.join(dup, "gram_hash", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = flagged.select(
        id_col,
        "pos",
        (F.col("pos") - F.row_number().over(w)).alias("__island"),
    )
    return (
        islands.groupBy(id_col, "__island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .drop("__island")
    )


def remove_duplicate_spans(
    docs: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Documents with every duplicated span scrubbed: the surviving
    tokens reassembled in order as ``clean_text`` (empty string if
    the whole document was duplicated). Token positions covered by a
    span leave via one anti join; in-order reassembly is
    array_sort(collect_list(struct(pos, tok))) — per-doc, no global
    sort."""
    spans = duplicate_spans(docs, k, min_docs, id_col, text_col)
    covered = spans.select(
        id_col,
        F.explode(F.sequence("span_start", "span_end")).alias("pos"),
    ).distinct()
    toks = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(normalize_text(F.col(text_col)), " ")
        ).alias("pos", "tok"),
    ).where(F.col("tok") != "")
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text")
    )
    # docs whose every token was covered drop out of `kept` — restore
    # them with empty text so the operator is total over its input
    return (
        docs.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(id_col, F.coalesce("clean_text", F.lit("")).alias("clean_text"))
    )
