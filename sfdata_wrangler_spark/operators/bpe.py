"""Distributed BPE tokenizer training (beyond-reference surface).

Byte-pair encoding is the tokenizer family every LLM pipeline trains
(Sennrich et al. 2016). The distributed shape exploits the classic
factorization: merge statistics depend only on WORD TYPES, not corpus
positions — so training runs on the distinct-word table (Zipf-tiny:
thousands of rows for a 100 TB corpus), while the corpus itself is
touched exactly twice, once to count word types (one groupBy) and once
to tokenize (one equi-join against the learned segmentation).

Training: after the one corpus-scale aggregation, the word-type
table is tiny (≤ ~10M rows even for a 100 TB corpus), so the merge
loop runs DRIVER-SIDE by default — collect (word, n) once, run the
classic incremental BPE loop (pair-count deltas + lazy max-heap, so
a 50k-merge vocabulary is O(total pair updates), not 50k serial
Spark jobs), and parallelize the finished segmentation back. The
corpus itself is touched exactly twice: once to count word types
(one groupBy) and once to tokenize (one equi-join against the
learned segmentation).

For a hypothetical type table too large to collect
(``max_driver_types``), the distributed fallback loop keeps the
old shape — one small Spark job per merge (k-means precedent):

1. word → symbol array (initially characters), weighted by count.
2. Adjacent-pair counts: one explode of ``arrays_zip(symbols[:-1],
   symbols[1:])`` + a weighted groupBy — map-side combinable.
3. argmax pair under a TOTAL order (count DESC, left ASC, right
   ASC): a 1-row ``orderBy().limit(1)`` collect.
4. Apply the merge with a higher-order ``F.aggregate`` fold (greedy
   left-to-right) — pure column expression, no UDF.

Both paths implement IDENTICAL semantics (same argmax total order,
same greedy non-overlapping fold), verified by a differential test.
The trained artifact is BOTH the ordered merge list AND the word →
token-array segmentation table; corpus tokenization never re-runs
merges — it joins words to their segmentation (broadcastable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_text


def word_type_counts(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Distinct word types with corpus frequencies: one explode + one
    map-side-combinable groupBy. The Zipf funnel that makes corpus-
    scale BPE cheap."""
    return (
        docs.select(
            F.explode(
                F.split(normalize_text(F.col(text_col)), " ")
            ).alias("word")
        )
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def _merge_fold(symbols: Column, left: str, right: str) -> Column:
    """Greedy left-to-right application of one merge (left, right) →
    left+right over a symbol array, as a linear fold. Overlap-safe:
    once a pair merges, the merged token (≠ ``left`` unless the pair
    is degenerate) can't re-pair with the next symbol in this pass —
    matching reference BPE's non-overlapping scan."""
    merged = F.lit(left + right)
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _merge_word(syms: list[str], left: str, right: str) -> list[str]:
    """Driver-side twin of :func:`_merge_fold`: greedy left-to-right
    non-overlapping replacement of adjacent (left, right) with
    left+right — byte-for-byte the fold's semantics."""
    out: list[str] = []
    for x in syms:
        if out and out[-1] == left and x == right:
            out[-1] = left + right
        else:
            out.append(x)
    return out


def _train_driver_side(
    types: list[tuple[str, int]],
    num_merges: int,
    min_pair_count: int,
) -> tuple[list[tuple[str, str, int]], list[tuple[str, int, list[str]]]]:
    """The collected merge loop: incremental pair-count maintenance
    (only words containing the merged pair are revisited, and only
    their pair deltas are applied) plus a lazy-invalidation max-heap
    over (count DESC, left ASC, right ASC) — the same TOTAL order as
    the distributed argmax. Complexity is O(total pair-count
    updates + heap traffic), independent of vocabulary size per se:
    a 50k-merge vocabulary is minutes of driver CPU, not 50k serial
    cluster round-trips."""
    import heapq
    from collections import defaultdict

    syms: list[list[str]] = [list(w) for w, _ in types]
    counts: list[int] = [n for _, n in types]

    pair_counts: dict[tuple[str, str], int] = defaultdict(int)
    pair_words: dict[tuple[str, str], set[int]] = defaultdict(set)
    for i, s in enumerate(syms):
        n = counts[i]
        for a, b in zip(s, s[1:]):
            pair_counts[(a, b)] += n
            pair_words[(a, b)].add(i)

    heap = [(-c, a, b) for (a, b), c in pair_counts.items()]
    heapq.heapify(heap)

    merges: list[tuple[str, str, int]] = []
    while len(merges) < num_merges and heap:
        negc, left, right = heapq.heappop(heap)
        cur = pair_counts.get((left, right), 0)
        if -negc != cur:
            # stale entry: the pair's count changed since this push;
            # its live entry (pushed on change) is still in the heap
            continue
        if cur < min_pair_count:
            break
        merges.append((left, right, cur))
        touched: set[tuple[str, str]] = set()
        for i in sorted(pair_words.get((left, right), ())):
            old = syms[i]
            new = _merge_word(old, left, right)
            if new == old:
                continue
            n = counts[i]
            for p in zip(old, old[1:]):
                pair_counts[p] -= n
                touched.add(p)
                if pair_counts[p] <= 0:
                    pair_counts.pop(p, None)
                    pair_words.pop(p, None)
                else:
                    pair_words[p].discard(i)
            for p in zip(new, new[1:]):
                pair_counts[p] += n
                touched.add(p)
                pair_words[p].add(i)
            syms[i] = new
        for p in touched:
            c = pair_counts.get(p, 0)
            if c > 0:
                heapq.heappush(heap, (-c, p[0], p[1]))
    segmentation = [
        (w, n, syms[i]) for i, (w, n) in enumerate(types)
    ]
    return merges, segmentation


def bpe_train(
    docs: DataFrame,
    num_merges: int = 30,
    text_col: str = "text",
    min_pair_count: int = 2,
    max_driver_types: int = 5_000_000,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Learn ``num_merges`` BPE merges from the corpus.

    Returns ``(merges, segmentation)``: the ordered merge list
    ``[(left, right, weighted_count), ...]`` and the word-type table
    ``(word, n, tokens)`` with each word's final token array — the
    artifact :func:`bpe_tokenize` joins against. Stops early when no
    pair reaches ``min_pair_count`` (weighted by word frequency).

    When the aggregated type table has ≤ ``max_driver_types`` rows
    (always, in practice — the Zipf funnel) the merge loop runs
    driver-side in ONE collect: total Spark jobs are O(1) in the
    merge count instead of one per merge. Set ``max_driver_types=0``
    to force the distributed per-merge loop.

    Distributed path: an eager checkpoint is a second job per
    iteration; applying merges lazily and truncating lineage every 4
    merges halves the job count at the cost of replaying at most 3
    folds over the (tiny) word-type table inside each argmax job —
    same batching trade as the connected-components probe.
    """
    spark = docs.sparkSession
    words = word_type_counts(docs, text_col).select(
        "word", "n", F.split(F.col("word"), "").alias("sym")
    )
    words = words.localCheckpoint(eager=True)
    n_types = words.count()
    if max_driver_types and n_types <= max_driver_types:
        types = [
            (r["word"], int(r["n"]))
            for r in words.select("word", "n").collect()
        ]
        # deterministic processing order (collect order follows
        # partitioning); the algorithm is order-independent, but a
        # canonical order makes the segmentation list reproducible
        types.sort()
        merges, seg_rows = _train_driver_side(
            types, num_merges, min_pair_count
        )
        segmentation = spark.createDataFrame(
            seg_rows, "word string, n bigint, tokens array<string>"
        )
        return merges, segmentation
    # Size the LOOP's parallelism to the word-type table, not to the
    # corpus default: every one of the ~num_merges argmax jobs pays
    # task-scheduling per partition, and the Zipf funnel makes the
    # type table orders of magnitude smaller than the corpus
    # (~100k types per task is comfortable; a 10M-type corpus still
    # gets 100 tasks). The repartition amortizes over the merge loop.
    target = max(1, min(
        spark.sparkContext.defaultParallelism, -(-n_types // 100_000)
    ))
    words = words.repartition(target).localCheckpoint(eager=True)

    merges: list[tuple[str, str, int]] = []
    for it in range(num_merges):
        pairs = words.select(
            F.col("n"),
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("sym"), 1, F.size("sym") - 1).alias("a"),
                    F.slice(F.col("sym"), 2, F.size("sym") - 1).alias("b"),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n").cast("bigint").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < min_pair_count:
            break
        left, right, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((left, right, cnt))
        words = words.select(
            "word", "n", _merge_fold(F.col("sym"), left, right).alias("sym")
        )
        if (it + 1) % 4 == 0:
            words = words.localCheckpoint(eager=True)

    segmentation = words.select("word", "n", F.col("sym").alias("tokens"))
    return merges, segmentation


def bpe_tokenize(
    docs: DataFrame,
    segmentation: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize the corpus with a trained segmentation: explode words,
    equi-join the (broadcastable) word → tokens table, re-explode to
    one row per (doc, position-ordered) token. The corpus-scale work
    is one join — merges never re-run."""
    words = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(normalize_text(F.col(text_col)), " ")
        ).alias("wpos", "word"),
    ).where(F.length("word") > 0)
    return (
        words.join(F.broadcast(segmentation.select("word", "tokens")), "word")
        .select(
            F.col(id_col),
            F.col("wpos"),
            F.posexplode(F.col("tokens")).alias("tpos", "token"),
        )
        .select(id_col, "wpos", "tpos", "token")
    )
