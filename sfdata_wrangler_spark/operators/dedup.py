"""Deduplication operators for training-data pipelines.

Beyond-reference surface (BASELINE.json north star). All variants are
pure DataFrame compositions designed for 100 TB:

- exact:      hash-groupBy on a normalized md5 key — one shuffle on a
              16-byte key, not on document text.
- minhash:    shingle → k salted min-hashes → band buckets →
              bucket-join. The candidate join is on (band, signature)
              so only near-duplicates meet; never an O(n²) cross join.
- simhash:    64-bit weighted-bit fingerprint; duplicates = equal
              fingerprint (or banded for hamming-near matches).
- ngram Jaccard: exact set similarity on word shingles, evaluated only
              on candidate pairs from an LSH/bucket prefilter.

Hash choice: xxhash64 (JVM built-in, stable across runs/versions) for
internal signatures; md5 for anything an external oracle must
reproduce.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ._cache import tracked_persist

from ..functions.text import norm_key, normalize_text, word_shingles


def _spread(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Ensure explode-heavy work is spread across the cluster.

    Document corpora often arrive as few large-ish files; a shingle
    explode multiplies rows ~100× AFTER the scan, so file-size-based
    partitioning under-parallelizes (one 5k-doc file = one task doing
    all the hashing). Round-robin the raw text to ``num_partitions``
    (default: the cluster's default parallelism) — one cheap narrow
    shuffle of raw text buys full-cluster hashing. Unconditional by
    design: probing the current partition count would materialize the
    RDD lineage on the driver, and rebalancing before a 100× explode
    is the right call at scale regardless of the incoming layout."""
    target = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target)


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one representative (lowest id) per normalized-text hash.

    Single shuffle on the md5 key; ``min_by`` avoids a second pass.
    """
    key = norm_key(F.col(text_col))
    return (
        df.withColumn("__key", key)
        .groupBy("__key")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .drop("__key")
    )


def canonical_keep(
    df: DataFrame,
    quality_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware exact dedup: per normalized-text cluster, keep
    the row ranked first by ``(quality DESC, id ASC)`` — the curation
    policy form of :func:`exact_dedup` (which keeps the lowest id
    unconditionally). Within an exact-duplicate cluster texts are
    identical modulo case/whitespace, so quality here is about
    PROVENANCE: keep the best-scored (longest, highest-rated, most
    trusted source) copy and shed the rest. Emits the kept row's
    original columns plus ``dup_count``.

    One shuffle on the md5 key; rank and cluster size share the same
    window partitioning (no second pass)."""
    key = norm_key(F.col(text_col))
    w = Window.partitionBy("__key")
    rk = F.row_number().over(
        w.orderBy(F.col(quality_col).desc(), F.col(id_col))
    )
    return (
        df.withColumn("__key", key)
        .withColumn("__rk", rk)
        .withColumn(
            "dup_count", F.count(F.lit(1)).over(w).cast("bigint")
        )
        .where(F.col("__rk") == 1)
        .drop("__key", "__rk")
    )


def exact_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """All duplicate groups of size > 1: (norm_key, n_docs, keep_id)."""
    return (
        df.withColumn("norm_key", norm_key(F.col(text_col)))
        .groupBy("norm_key")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """One row per doc: k salted min-hashes (columns mh_0..mh_{k-1})
    over word shingles. Explodes shingles once; all k mins computed in
    a single groupBy pass (map-side combinable).

    ``hash_fn``: 'xxhash64' (JVM built-in, production default) or
    'md5' (slower, but reproducible by external SQL engines — used by
    the oracle-checked catalog queries; min over hex strings is a
    valid min-hash since md5 hex is order-isomorphic to its value).
    """
    if hash_fn == "xxhash64":
        # fast path: hash the shingle string ONCE per row, then derive
        # the k per-permutation hashes from the 8-byte base — k
        # fixed-width hashes instead of k string hashes at explode
        # scale (docs × shingles × k). (A fully string-free variant
        # via per-token hash arrays measured SLOWER: nested
        # higher-order lambdas leave codegen.)
        shingled = (
            _spread(df)
            .select(
                F.col(id_col),
                F.explode(
                    word_shingles(F.col(text_col), shingle_n)
                ).alias("__sh"),
            )
            .select(id_col, F.xxhash64(F.col("__sh")).alias("__h"))
        )
        mins = [
            F.min(F.xxhash64(F.col("__h"), F.lit(i))).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
        return shingled.groupBy(id_col).agg(*mins)
    if hash_fn == "md5w":
        # md5-WIDE: the oracle-parity family that is also fast. ONE
        # md5 per (salt-block, shingle) yields EIGHT independent
        # 16-bit lanes (4 hex chars -> conv -> BIGINT), so k=16
        # min-hashes cost 2 md5 calls per shingle instead of 16 —
        # within ~1.5x of the xxhash64 path at bench scale, yet every
        # value is replayable by an external SQL engine
        # (('0x' || substring(md5(...), 4*lane+1, 4))::BIGINT in
        # DuckDB). 16-bit lanes are a valid min-hash family here:
        # per-shingle collision probability is 2^-16 against corpora
        # whose documents carry O(100) shingles.
        shingled = _spread(df).select(
            F.col(id_col),
            F.explode(word_shingles(F.col(text_col), shingle_n)).alias("__sh"),
        )
        n_blocks = (num_hashes + 7) // 8
        # name each block's md5 ONCE in a projection so codegen
        # computes it once, then slice lanes off the named column
        blocks = shingled.select(
            F.col(id_col),
            *[
                F.md5(F.concat(F.lit(f"{blk}|"), F.col("__sh"))).alias(
                    f"__b{blk}"
                )
                for blk in range(n_blocks)
            ],
        )
        # min over the 4-char HEX lanes, decode AFTER the aggregate
        # (r14, guide §1.2 per-task work): fixed-width lowercase hex
        # is order-isomorphic to its numeric value, so
        # min(conv(lane)) == conv(min(lane)) — moving the conv above
        # the groupBy runs it k times per DOC instead of k times per
        # exploded shingle row (~100x fewer NumberConverter calls at
        # typical shingle counts). Values are bit-identical.
        lanes = blocks.select(
            F.col(id_col),
            *[
                F.substring(
                    F.col(f"__b{i // 8}"), 4 * (i % 8) + 1, 4
                ).alias(f"__l{i}")
                for i in range(num_hashes)
            ],
        )
        mins = lanes.groupBy(id_col).agg(
            *[F.min(F.col(f"__l{i}")).alias(f"__m{i}") for i in range(num_hashes)]
        )
        return mins.select(
            F.col(id_col),
            *[
                F.conv(F.col(f"__m{i}"), 16, 10)
                .cast("bigint")
                .alias(f"mh_{i}")
                for i in range(num_hashes)
            ],
        )
    if hash_fn != "md5":
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    shingled = _spread(df).select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("__sh"),
    )
    mins = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("__sh")))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return shingled.groupBy(id_col).agg(*mins)


def minhash_band_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """LSH band index of a corpus: one row per (doc, band) with the
    band's signature hash — ``(id_col, band, bh)``.

    This IS the persistent artifact of corpus-scale near-dedup: write
    it to the lake (partitioned/bucketed by ``(band, bh)``) once per
    snapshot, and every later batch joins against it instead of
    re-hashing 100 TB (see :func:`incremental_dedup`). n·bands rows —
    tiny next to the corpus.
    """
    rows = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, hash_fn)
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows + r}") for r in range(rows)]
        if hash_fn in ("md5", "md5w"):
            # md5w lanes are BIGINTs; concat_ws renders them as
            # decimal strings, matching the oracle's concat_ws
            bh = F.md5(F.concat_ws("|", *cols))
        else:
            bh = F.xxhash64(*cols)
        band_cols.append(F.struct(F.lit(b).alias("band"), bh.alias("bh")))
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))


def incremental_dedup(
    index: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dedup a NEW batch against an EXISTING corpus's LSH band
    index (from :func:`minhash_band_index`) without touching the
    existing corpus text.

    This is the append-only ingestion shape a growing training corpus
    needs: re-running whole-corpus dedup per arriving batch is
    O(corpus) every time; joining the batch's band hashes against the
    persisted index is O(batch) + one equi-join. Returns one row per
    new doc: ``(id_col, n_index_hits, first_hit_id, is_new)`` where
    ``n_index_hits`` counts DISTINCT index docs sharing >= 1 band,
    ``first_hit_id`` is the smallest such index doc id (the
    canonical-representative pointer), and ``is_new`` marks docs with
    no collision — the ones to append. Batch-internal duplicates are
    NOT resolved here (run exact/minhash dedup on the batch first, or
    after appending).
    """
    new_buckets = minhash_band_index(
        new_docs, text_col, id_col, num_hashes, bands, shingle_n, hash_fn
    )
    joined = new_buckets.join(
        index.select(
            F.col("band"),
            F.col("bh"),
            F.col(id_col).alias("__index_id"),
        ),
        ["band", "bh"],
    )
    hits = (
        joined.groupBy(id_col)
        .agg(
            F.count_distinct("__index_id").cast("bigint").alias("n_index_hits"),
            F.min("__index_id").alias("first_hit_id"),
        )
    )
    return new_docs.select(F.col(id_col)).join(hits, id_col, "left").select(
        id_col,
        F.coalesce("n_index_hits", F.lit(0)).cast("bigint").alias("n_index_hits"),
        "first_hit_id",
        (F.coalesce("n_index_hits", F.lit(0)) == 0).alias("is_new"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Signature matrix → ``bands`` band-keys (hash of the band's rows) →
    self-join per band bucket → distinct (a, b) pairs with a < b.
    The join key is (band_idx, band_hash): cardinality ~n·bands rows,
    and only colliding docs ever pair — the scale-safe shape.

    The band index is persisted before the self-join (r15): the
    join's two sides are the SAME n·bands-row table, but one side
    broadcasts, so exchange reuse can never dedup them and the full
    signature pipeline (shingle explode + k hashes + min aggregate —
    the dominant cost) would run twice. The persist is three ints per
    (doc, band) and pays for itself as soon as the corpus outgrows the
    fill cost: interleaved A/B reads a wash at sf0.1 (1.34 vs 1.40 s
    count) and **4.17 → 2.99 s** on the 10x sf1 replica. Released by
    ``release_operator_caches`` / ``cache_scope``."""
    buckets = tracked_persist(
        minhash_band_index(
            df, text_col, id_col, num_hashes, bands, shingle_n, hash_fn
        )
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bh") == F.col("b.bh"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash over whitespace tokens, no UDF: explode tokens, per
    (doc, bit) sum ±1 votes using the token hash's bit, then assemble
    the fingerprint with bit ORs.

    ``hash_fn``: 'xxhash64' (JVM built-in, 64-bit production default)
    or 'md5' — the oracle-parity family: the token hash is the first
    15 hex chars of md5 decoded to a 60-bit BIGINT (conv here,
    ``('0x' || substring(md5(tok), 1, 15))::BIGINT`` in DuckDB), so an
    external SQL engine replays every bit. 15 chars = 60 bits keeps
    the value AND the assembled fingerprint strictly below 2^63 on
    both engines — no signed-overflow divergence. Pass bits<=60 with
    'md5'."""
    if hash_fn == "md5":
        if bits > 60:
            raise ValueError("md5 simhash supports at most 60 bits")
        h = F.conv(F.substring(F.md5(F.col("__tok")), 1, 15), 16, 10).cast(
            "bigint"
        )
    elif hash_fn == "xxhash64":
        h = F.xxhash64("__tok")
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    toks = _spread(df).select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("__tok"),
    ).withColumn("__h", h)
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"v_{i}")
            for i in range(bits)
        ]
    )
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"v_{i}") > 0, F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp.bitwiseOR(term)
    return votes.select(F.col(id_col), fp.alias("simhash"))


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact Jaccard similarity on word shingles for given candidate
    pairs (id_a, id_b) — run AFTER an LSH prefilter, never all-pairs."""
    sh = df.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_n).alias("sh")
    )
    j = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return j.select(
        "id_a",
        "id_b",
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
    )


def contamination_check(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Train/eval contamination: per eval doc, how many of its DISTINCT
    word n-grams occur anywhere in the train corpus.

    The scale shape is an equi-join on the shingle string against the
    train side's distinct-shingle set (map-side combinable distinct,
    one shuffle keyed by shingle) — never a doc-pair join. Eval docs
    shorter than ``shingle_n`` tokens have no shingles and drop out
    (mirrored by the SQL oracle's unnest semantics). Returns
    (id, n_ngrams, n_contaminated)."""
    train_sh = (
        _spread(train)
        .select(
            F.explode(
                F.array_distinct(word_shingles(F.col(text_col), shingle_n))
            ).alias("sh")
        )
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    eval_sh = _spread(eval_df).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_shingles(F.col(text_col), shingle_n))
        ).alias("sh"),
    )
    joined = eval_sh.join(train_sh, "sh", "left")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ngrams"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
        .cast("bigint")
        .alias("n_contaminated"),
    )


def _shingle_stream(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    max_doc_freq: int | None,
) -> DataFrame:
    """The distinct-shingle inverted-index input shared by the exact
    pair operators: spread → explode distinct shingles → optional
    stop-shingle prune. Not persisted, by measurement (r5, sf0.1,
    idle, best-of-4 noop: persist 1.73s vs recompute 1.33s — two
    extra cheap explodes of page-cached text beat writing/reading a
    corpus-scale cache; contrast prefix_filter_pairs, five consumers
    + windows, where the persist wins)."""
    sh = _spread(df).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_shingles(F.col(text_col), shingle_n))
        ).alias("sh"),
    )
    if max_doc_freq is not None:
        freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
        sh = sh.join(
            freq.where(F.col("__df") <= max_doc_freq).select("sh"), "sh"
        )
    return sh


def exact_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """ALL pairs sharing ≥ 1 word shingle, with exact intersection /
    union counts: (id_a, id_b, inter, union_sz).

    The ground-truth generator for LSH recall telemetry. Shape is a
    shingle inverted index (explode distinct shingles → self-equi-join
    on the shingle key → per-pair count), so pairs only materialize
    where documents actually overlap — never an O(n²) cross join.
    Disjoint documents (Jaccard 0) are absent by construction.

    ``max_doc_freq`` is the skew guard for corpus scale: a
    boilerplate shingle appearing in k documents contributes k² join
    rows, so one hot posting list can dominate the whole job. Setting
    a cap drops shingles whose document frequency exceeds it
    (stop-shingle filtering — the standard near-dup trade: such
    shingles carry ~no similarity signal anyway). Intersections and
    union sizes are then computed over the SURVIVING shingle sets, so
    the Jaccard stays internally consistent."""
    sh = _shingle_stream(df, text_col, id_col, shingle_n, max_doc_freq)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            on=[
                F.col("a.sh") == F.col("b.sh"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return inter.join(na, "id_a").join(nb, "id_b").select(
        "id_a",
        "id_b",
        "inter",
        (F.col("n_a") + F.col("n_b") - F.col("inter")).alias("union_sz"),
    )


def cluster_duplicates(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate pairs → (doc_id,
    cluster_id) with cluster_id = min doc id in the component.

    Distributed min-label propagation: each node repeatedly adopts the
    smallest label among itself and its neighbors until fixpoint.
    Iterations ≈ graph diameter; duplicate clusters are shallow
    (near-dup graphs are dense cliques), so this converges in a few
    rounds even at corpus scale. The final keep-one-per-cluster step
    is then ``dedup_by_order`` on cluster_id.

    Convergence is probed only every 3rd round: each probe is a
    driver-side action (job launch), and labels are monotonically
    non-increasing per node, so "unchanged across k rounds" ⟺
    "unchanged each round" — batching the probe trades a few cheap
    extra propagation rounds for k× fewer serialized job launches.
    ``cluster_duplicates.last_n_checks`` records the probe count for
    tests."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    checked = labels.localCheckpoint(eager=True)
    labels = checked
    n_checks = 0
    for it in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
        )
        labels = new_labels.localCheckpoint(eager=True)
        if (it + 1) % 3 == 0 or it == max_iterations - 1:
            n_checks += 1
            changed = (
                labels.alias("n")
                .join(checked.alias("o"), "node")
                .where(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
            if changed == 0:
                break
            checked = labels
    cluster_duplicates.last_n_checks = n_checks
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_containment_pct: int = 50,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup detection: pairs where one document's
    shingle set is largely CONTAINED in the other's —
    ``max(inter/|A|, inter/|B|) >= threshold``.

    Jaccard misses doc-in-doc duplication (a paragraph quoted inside
    a much longer page has tiny Jaccard but containment ~1.0), and
    containment is the right notion for quote/boilerplate/subset
    leakage in training corpora (Broder's original distinction).
    Same inverted-index shape as :func:`exact_jaccard_pairs` — pairs
    only materialize where shingles actually co-occur, never O(n²) —
    and the score is exact integer percent (``inter*100 // n``), so
    the threshold cannot waver across engines. ``max_doc_freq`` is
    the same stop-shingle skew guard.
    """
    sh = _shingle_stream(df, text_col, id_col, shingle_n, max_doc_freq)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            on=[
                F.col("a.sh") == F.col("b.sh"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    scored = (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "inter",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            # integer div, not floor(float-div): exact at threshold
            # boundaries by construction, no IEEE knife edges at all
            F.greatest(
                F.expr("(inter * 100) div n_a"),
                F.expr("(inter * 100) div n_b"),
            )
            .cast("bigint")
            .alias("containment_pct"),
        )
    )
    return scored.where(F.col("containment_pct") >= min_containment_pct)


def simhash_hamming_pairs(
    fps: DataFrame,
    fp_col: str = "simhash",
    id_col: str = "doc_id",
    bits: int = 64,
    max_hamming: int = 2,
) -> DataFrame:
    """Near-duplicate pairs at Hamming distance ≤ ``max_hamming``
    between SimHash fingerprints, WITHOUT an all-pairs comparison.

    Pigeonhole blocking (the classic Manku/Jain/Sarma web-dedup
    trick): split the ``bits``-wide fingerprint into ``max_hamming +
    1`` contiguous blocks. Two fingerprints within Hamming distance
    k differ in at most k blocks, so they must agree EXACTLY on at
    least one of the k+1 blocks — an equi-join on
    (block_index, block_value) is therefore a lossless candidate
    generator. Each candidate is verified with one
    ``bit_count(fp_a XOR fp_b)`` — exact, no false negatives, and
    the join is bucketed by block value (never O(n²)).

    At 100 TB the only skew risk is a degenerate block value shared
    by a huge cohort (e.g. all-zero block over near-empty docs);
    the blocks are ~bits/(k+1) wide, so widening ``bits`` or
    lowering ``max_hamming`` directly grows bucket selectivity.

    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    nblocks = max_hamming + 1
    widths = [
        bits // nblocks + (1 if i < bits % nblocks else 0)
        for i in range(nblocks)
    ]
    offsets = [sum(widths[:i]) for i in range(nblocks)]
    blocks = fps.select(
        F.col(id_col).alias("__id"),
        F.col(fp_col).cast("bigint").alias("__fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned(
                            F.col(fp_col).cast("bigint"), offsets[i]
                        )
                        .bitwiseAND(F.lit((1 << widths[i]) - 1))
                        .alias("val"),
                    )
                    for i in range(nblocks)
                ]
            )
        ).alias("__b"),
    ).select("__id", "__fp", F.col("__b.blk").alias("__blk"), F.col("__b.val").alias("__val"))
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.__blk") == F.col("b.__blk"),
                F.col("a.__val") == F.col("b.__val"),
                F.col("a.__id") < F.col("b.__id"),
            ],
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__fp").alias("fp_a"),
            F.col("b.__fp").alias("fp_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("bigint")
    return cand.select(
        "id_a", "id_b", ham.alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold_pct: int = 50,
) -> DataFrame:
    """EXACT Jaccard-threshold similarity self-join via prefix
    filtering (PPJoin-style) — the no-false-negative alternative to
    MinHash LSH (which trades recall for speed).

    Prefix-filter lemma: order every document's distinct shingle set
    by one GLOBAL total order (here: ascending document frequency,
    ties by shingle string — rarest first). If J(A,B) ≥ t, then the
    prefixes of lengths |A| - ceil(t·|A|) + 1 and |B| - ceil(t·|B|)
    + 1 must share at least one shingle. So candidates = pairs
    sharing a PREFIX shingle (an equi-join on the shingle key whose
    posting lists are the SHORTEST ones — rarest-first ordering makes
    prefix posting lists small), then each candidate is verified with
    exact intersection counts.

    All threshold math is integer (ceil(t·n) with t = pct/100 is
    ``(threshold_pct * n + 99) div 100``; the final test is
    ``inter * 100 ≥ threshold_pct * union``) — no IEEE boundary
    cases anywhere.

    Returns (id_a, id_b, inter, union_sz) for pairs with
    J ≥ threshold_pct/100, id_a < id_b.

    The distinct-shingle stream its five consumer stages read is
    persisted. It lives in the session's CacheManager until
    ``release_operator_caches`` (or the enclosing ``cache_scope``)
    releases it.
    """
    # The distinct-shingle stream is consumed FIVE times (document
    # frequencies, the ranked prefix, both sides of the intersection
    # count, set sizes); unmaterialized, each consumer re-scans and
    # re-shingles the corpus. Materialize it once — it is the
    # inverted-index input every stage reads (MEMORY_AND_DISK: spills
    # instead of OOM at corpus scale; persist keeps the lineage
    # recompute path on executor loss).
    sh = tracked_persist(
        _spread(df).select(
            F.col(id_col).alias("__id"),
            F.explode(
                F.array_distinct(word_shingles(F.col(text_col), shingle_n))
            ).alias("sh"),
        )
    )
    freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
    ranked = (
        sh.join(freq, "sh")
        .withColumn(
            "__pos",
            F.row_number().over(
                Window.partitionBy("__id").orderBy("__df", "sh")
            ),
        )
        .withColumn(
            "__n", F.count(F.lit(1)).over(Window.partitionBy("__id"))
        )
    )
    prefix_len = (
        F.col("__n")
        - F.expr(f"({threshold_pct} * __n + 99) div 100")
        + F.lit(1)
    )
    prefix = ranked.where(F.col("__pos") <= prefix_len).select("__id", "sh")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            on=[
                F.col("a.sh") == F.col("b.sh"),
                F.col("a.__id") < F.col("b.__id"),
            ],
        )
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
        )
        .distinct()
    )
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        cand.join(
            sh.select(F.col("__id").alias("id_a"), F.col("sh").alias("__sa")),
            "id_a",
        )
        .join(
            sh.select(F.col("__id").alias("__idb"), F.col("sh").alias("__sb")),
            on=[
                F.col("id_b") == F.col("__idb"),
                F.col("__sa") == F.col("__sb"),
            ],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("__id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("__id").alias("id_b"), F.col("n").alias("n_b"))
    scored = inter.join(na, "id_a").join(nb, "id_b").select(
        "id_a",
        "id_b",
        F.col("inter").cast("bigint").alias("inter"),
        (F.col("n_a") + F.col("n_b") - F.col("inter"))
        .cast("bigint")
        .alias("union_sz"),
    )
    return scored.where(
        F.col("inter") * 100 >= F.lit(threshold_pct) * F.col("union_sz")
    )


def lsh_calibration(
    spark,
    bands: int,
    rows_per_band: int,
    step_pct: int = 5,
) -> DataFrame:
    """The MinHash-LSH S-curve as a table: for each true Jaccard
    similarity s on a grid, the probability that a pair becomes a
    candidate under (bands b, rows-per-band r) banding —
    ``P = 1 - (1 - s^r)^b``. This is the number to read BEFORE
    committing a banding scheme to a 100 TB corpus: it says exactly
    which similarity range the blocking recalls and which it drops
    (the curve's inflection sits near (1/b)^(1/r)).

    Determinism: powers are computed by EXPLICIT square-and-multiply
    chains (plain IEEE multiplies, bit-identical in every engine) —
    NOT pow()/power(), whose libm implementations differ by ulps
    between the JVM and DuckDB. Output probability is micro-unit
    rounded. Purely analytic — a grid-sized frame, no data read."""
    grid = spark.range(step_pct, 100, step_pct).select(
        F.col("id").cast("int").alias("s_pct")
    )
    s = F.col("s_pct") / F.lit(100.0)

    def ipow(base, exp: int):
        # square-and-multiply with plain Column multiplies
        result = None
        acc = base
        e = exp
        while e:
            if e & 1:
                result = acc if result is None else result * acc
            e >>= 1
            if e:
                acc = acc * acc
        return result if result is not None else F.lit(1.0)

    p_band = ipow(s, rows_per_band)          # s^r
    p_miss = ipow(F.lit(1.0) - p_band, bands)  # (1-s^r)^b
    p_cand = F.lit(1.0) - p_miss
    return grid.select(
        "s_pct",
        F.lit(int(bands)).cast("int").alias("bands"),
        F.lit(int(rows_per_band)).cast("int").alias("rows_per_band"),
        F.floor(p_cand * 1_000_000 + F.lit(0.5))
        .cast("bigint")
        .alias("p_candidate_micro"),
    )
