"""Product quantization (PQ) for embedding ANN.

The memory-side companion to the IVF coarse quantizer in
operators/similarity.py (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011): split each d-dim vector into
``m`` subvectors, quantize each against a small per-subspace
codebook, and answer queries with Asymmetric Distance Computation —
a per-query lookup table (LUT) of subspace distances, so the scan
touches only the m-byte codes, never the original vectors.

Distributed shape:
- codebooks: one groupBy over (code, subspace, dim) — codebook-sized
  output, broadcast everywhere else;
- encoding: corpus exploded to subvector granularity joins the
  BROADCAST codebook; the m×L candidate blowup (m subspaces × L
  codes) is the knob the caller controls;
- ADC: the encoded corpus (n·m rows of integer codes) joins the
  BROADCAST per-query LUT (nq·m·L rows) and folds per (query, vec) —
  the corpus is never shuffled pairwise and never re-reads vectors;
- top-k: per-query window with (distance, vec_id) total order.

Determinism: this implementation quantizes coordinates to integer
MICRO-UNITS first and does ALL distance arithmetic in BIGINT —
squared-L2 sums of micro ints, no floating point anywhere past the
initial quantization — so results (and the DuckDB oracle) are exact
to the bit with no IEEE accumulation-order analysis at all. The
codebook here is the deterministic label-mean quantizer (the same
device as the IVF labels twin: integer-division means per label);
a k-means codebook drops in wherever cross-engine hash parity is
not required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._cache import tracked_persist

__all__ = [
    "pq_codebooks",
    "pq_encode",
    "pq_adc_topk",
    "ivf_coarse_centroids",
    "ivf_coarse_distances",
    "ivfpq_codebooks",
    "ivfpq_encode",
    "ivfpq_index",
    "ivfpq_topk",
    "centroids_to_micro",
    "pq_codebooks_trained",
    "probed_cells",
    "serve_pruned",
]


def _long_form(emb: DataFrame, id_col: str, vec_col: str, m: int, sub_dim: int):
    """(id, subspace, dim, x_micro) — one row per coordinate."""
    return emb.select(
        F.col(id_col),
        F.posexplode(vec_col).alias("__pos", "__x"),
    ).select(
        id_col,
        (F.col("__pos") / sub_dim).cast("int").alias("subspace"),
        (F.col("__pos") % sub_dim).alias("dim"),
        F.floor(F.col("__x").cast("double") * 1e6 + 0.5)
        .cast("bigint")
        .alias("x_micro"),
    )


# --------------------------------------------------------------------- #
# Array-native coarse-quantizer kernels (r15, guide §1.2/§2.4).         #
#                                                                       #
# The r14 build still EXPLODED the corpus ×d twice per index build      #
# (coarse-distance pass + residual fill) and ran the assignment as a    #
# corpus×L×d join + n·L-key hash aggregate + an id-grain re-join. All   #
# of that is a per-row computation: keep the vector as an ARRAY, micro- #
# quantize with transform(), and compute every centroid distance with   #
# an exact BIGINT zip_with/aggregate fold — integer addition is         #
# associative and commutative, so Σ(x−c)² is BIT-IDENTICAL to the       #
# long-form sum in any order. The assignment (argmin by the (d2, cid)   #
# total order) becomes array_min over structs — a PURE PROJECTION:      #
# zero joins, zero exchanges, zero Generates until the single residual  #
# posexplode that feeds the (subspace, dim)-grain codebook/encode       #
# aggregates. Contract: vectors and centroids carry DENSE dims          #
# 0..m·sub_dim-1 (a missing dim would NULL the fold where the long     #
# form silently summed fewer terms — every builder in this module       #
# produces dense dims).                                                 #
# --------------------------------------------------------------------- #


def _micro_array(vec_col):
    """array<double> -> array<bigint> micro units; per-element
    arithmetic identical to :func:`_long_form`."""
    return F.transform(
        vec_col,
        lambda x: F.floor(x.cast("double") * 1e6 + 0.5).cast("bigint"),
    )


def _sq_l2(a, b):
    """Exact BIGINT squared L2 between two micro arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _centroid_arrays(centroids: DataFrame, sub_dim: int) -> DataFrame:
    """Long-form centroids (cid, subspace, dim, c_micro) -> (cid,
    __c_arr) with the array ordered by the original coordinate
    position subspace·sub_dim + dim. collect_list order is
    nondeterministic; array_sort on (pos, value) structs restores it
    deterministically (pos is unique per cid)."""
    return centroids.groupBy("cid").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (F.col("subspace") * sub_dim + F.col("dim")).alias(
                            "__p"
                        ),
                        F.col("c_micro").alias("__c"),
                    )
                )
            ),
            lambda s: s["__c"],
        ).alias("__c_arr")
    )


def _centroids_one_row(centroids: DataFrame, sub_dim: int) -> DataFrame:
    """ONE broadcast row holding every centroid as (cid, arr) structs,
    sorted by cid — the shape that lets each vector compute its
    assignment/probe list in a single projection."""
    return _centroid_arrays(centroids, sub_dim).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cid"), F.col("__c_arr")))
        ).alias("__cents")
    )


def _assign_residuals(
    vecs: DataFrame,
    centroids: DataFrame,
    sub_dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, cid, __r): each vector's argmin coarse cell — min by the
    exact (d2, cid) total order, identical to
    ``_coarse_assign(ivf_coarse_distances(...))`` — and its residual
    micro array against that cell's centroid. One projection over a
    1-row broadcast: no join keys, no aggregation, no explode."""
    xm = vecs.select(
        F.col(id_col), _micro_array(F.col(vec_col)).alias("__xm")
    )
    best = F.array_min(
        F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                _sq_l2(F.col("__xm"), c["__c_arr"]).alias("__d2"),
                c["cid"].alias("cid"),
                c["__c_arr"].alias("__arr"),
            ),
        )
    )
    return (
        xm.crossJoin(F.broadcast(_centroids_one_row(centroids, sub_dim)))
        .select(id_col, "__xm", best.alias("__b"))
        .select(
            id_col,
            F.col("__b.cid").alias("cid"),
            F.zip_with(
                "__xm", "__b.__arr", lambda x, c: x - c
            ).alias("__r"),
        )
    )


def _res_long_form(res_arrays: DataFrame, sub_dim: int, id_col: str):
    """(id, cid, __r array) -> the (id, cid, subspace, dim, r_micro)
    long form the codebook/encode aggregates consume — the build's
    ONE corpus-scale posexplode."""
    return res_arrays.select(
        id_col, "cid", F.posexplode("__r").alias("__pos", "r_micro")
    ).select(
        id_col,
        "cid",
        (F.col("__pos") / sub_dim).cast("int").alias("subspace"),
        (F.col("__pos") % sub_dim).alias("dim"),
        "r_micro",
    )


def pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Label-mean codebooks: ``(code, subspace, dim, c_micro)`` where
    c_micro = integer-division mean of the micro coordinates of all
    vectors sharing the label. Codebook-sized output (L·d rows).
    The label rides the explode directly (r15) — no corpus-scale
    re-join on id for a column the source row already carries."""
    lf = _long_form(
        emb.select(F.col(label_col).alias("code"), vec_col),
        "code",
        vec_col,
        m,
        sub_dim,
    )
    return lf.groupBy("code", "subspace", "dim").agg(
        F.expr("sum(x_micro) div count(1)").cast("bigint").alias("c_micro")
    )


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ codes: ``(id, subspace, code)`` — per subspace, the code
    whose centroid minimizes exact integer squared-L2 distance (ties
    break to the smallest code). One corpus pass against the
    broadcast codebook."""
    lf = _long_form(emb, id_col, vec_col, m, sub_dim)
    j = lf.join(F.broadcast(codebooks), ["subspace", "dim"])
    dists = j.groupBy(id_col, "subspace", "code").agg(
        F.sum(
            (F.col("x_micro") - F.col("c_micro"))
            * (F.col("x_micro") - F.col("c_micro"))
        ).alias("d2")
    )
    best = dists.groupBy(id_col, "subspace").agg(
        F.min(F.struct("d2", "code")).alias("__b")
    )
    return best.select(id_col, "subspace", F.col("__b.code").alias("code"))


def pq_adc_topk(
    queries: DataFrame,
    encoded: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    m: int = 8,
    sub_dim: int = 8,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: ``(query_id, vec_id, adc_d2,
    rank)``. The per-query LUT (nq·m·L rows) broadcasts; the encoded
    corpus joins it on (subspace, code) and folds the m partial
    distances per (query, vec). Exact BIGINT arithmetic end to
    end."""
    qlf = _long_form(queries, query_id, vec_col, m, sub_dim)
    lut = (
        qlf.join(F.broadcast(codebooks), ["subspace", "dim"])
        .groupBy(query_id, "subspace", "code")
        .agg(
            F.sum(
                (F.col("x_micro") - F.col("c_micro"))
                * (F.col("x_micro") - F.col("c_micro"))
            ).alias("lut_d2")
        )
    )
    scored = (
        encoded.join(F.broadcast(lut), ["subspace", "code"])
        .groupBy(query_id, corpus_id)
        .agg(F.sum("lut_d2").alias("adc_d2"))
        .where(F.col(query_id) != F.col(corpus_id))
    )
    w = Window.partitionBy(query_id).orderBy("adc_d2", corpus_id)
    return (
        scored.select(
            query_id, corpus_id, "adc_d2", F.row_number().over(w).alias("rank")
        )
        .where(F.col("rank") <= k)
    )


# --------------------------------------------------------------------- #
# IVF-PQ: the composed serving shape (Jégou et al. 2011 "IVFADC").      #
# pq_adc_topk alone ADC-scans EVERY corpus code per query; at 100 TB    #
# the scan must first prune to the n_probe coarse cells the query      #
# lands in, ADC-rank only those lists, then exact-rerank a shortlist.  #
# Everything below stays in exact BIGINT micro-units (same device as   #
# the PQ family above), so the full composition is oracle-checkable    #
# bit-for-bit: coarse assign -> residual PQ encode -> probed-list ADC  #
# -> exact rerank.                                                     #
# --------------------------------------------------------------------- #


def ivf_coarse_centroids(
    corpus: DataFrame,
    m: int = 8,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Coarse (cell) centroids ``(cid, subspace, dim, c_micro)``:
    per-label integer-division means over micro coordinates — the
    deterministic stand-in for a k-means coarse quantizer (swap in
    ``similarity.kmeans_centroids`` when cross-engine hash parity is
    not required). Output is L·d rows — broadcast-sized.

    The table is persisted (tracked — r14, guide §5): it
    broadcasts into the build and search under SEVERAL DIFFERENT join
    key sets ((subspace, dim) for assignment, (cid, subspace, dim)
    for residuals), and exchange reuse only dedups identical
    broadcast relations — each distinct key set otherwise re-runs
    this CORPUS-SCALE aggregation to rebuild 512-odd rows.
    Broadcast-sized cache, released with release_operator_caches.
    Interleaved A/B of the composed inline-build search: never worse,
    medians 3.69→3.53 s (sf0.1) / 2.95→2.80 s (sf0.01).

    r15: the label rides the explode directly (``cid`` selected
    alongside the posexplode) — the r14 form exploded (id, vec) and
    then JOINED the corpus again on id just to attach the label, a
    corpus-scale join for a column the source row already had. Same
    rows, same means."""
    lf = _long_form(
        corpus.select(F.col(label_col).alias("cid"), vec_col),
        "cid",
        vec_col,
        m,
        sub_dim,
    )
    return tracked_persist(
        lf.groupBy("cid", "subspace", "dim").agg(
            F.expr("sum(x_micro) div count(1)").cast("bigint").alias("c_micro")
        )
    )


def ivf_coarse_distances(
    vecs: DataFrame,
    centroids: DataFrame,
    m: int = 8,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact integer squared-L2 to EVERY coarse centroid:
    ``(id, cid, d2)``. Array-native (r15, guide §1.2): the vector
    stays an array, the L-row centroid-array dim broadcasts, and each
    (id, cid) distance is one BIGINT zip_with fold — no corpus
    explode, no n·L-key hash aggregate, no shuffle at all (the r14
    form exploded ×d and aggregated n·L·d join rows into n·L
    partials). Σ(x−c)² in integer arithmetic is order-free, so values
    are bit-identical to the long-form sum."""
    xm = vecs.select(
        F.col(id_col), _micro_array(F.col(vec_col)).alias("__xm")
    )
    return xm.crossJoin(
        F.broadcast(_centroid_arrays(centroids, sub_dim))
    ).select(
        id_col,
        "cid",
        _sq_l2(F.col("__xm"), F.col("__c_arr")).alias("d2"),
    )


def _coarse_assign(dists: DataFrame, id_col: str) -> DataFrame:
    """argmin cell per vector with (d2, cid) total order."""
    best = dists.groupBy(id_col).agg(F.min(F.struct("d2", "cid")).alias("__b"))
    return best.select(id_col, F.col("__b.cid").alias("cid"))


def _residual_lf(
    corpus: DataFrame,
    centroids: DataFrame,
    assign: DataFrame,
    m: int,
    sub_dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, cid, subspace, dim, r_micro): micro coordinates minus the
    ASSIGNED cell's centroid — the residual stream IVF-PQ quantizes
    (encoding residuals, not raw vectors, is what lets a small
    codebook stay accurate across cells).

    Array-native (r15): the id-grain assignment joins the UN-exploded
    vectors (n rows of arrays instead of n·d long rows through the
    join — guide §3.3 "join first on the un-exploded key and explode
    after"), subtracts the broadcast centroid array with one zip_with,
    and explodes once at the end. Values identical (same subtraction
    per coordinate)."""
    xm = corpus.select(
        F.col(id_col), _micro_array(F.col(vec_col)).alias("__xm")
    )
    withc = xm.join(assign, id_col).join(
        F.broadcast(_centroid_arrays(centroids, sub_dim)), "cid"
    )
    return _res_long_form(
        withc.select(
            id_col,
            "cid",
            F.zip_with("__xm", "__c_arr", lambda x, c: x - c).alias("__r"),
        ),
        sub_dim,
        id_col,
    )


def _codebooks_from_residuals(
    res: DataFrame, n_codes: int, id_col: str
) -> DataFrame:
    return res.groupBy(
        (F.col(id_col) % n_codes).cast("int").alias("code"),
        F.col("subspace"),
        F.col("dim"),
    ).agg(
        F.expr("sum(r_micro) div count(1)").cast("bigint").alias("c_micro")
    )


def _encode_from_residuals(
    res: DataFrame, codebooks: DataFrame, id_col: str
) -> DataFrame:
    j = res.join(F.broadcast(codebooks), ["subspace", "dim"])
    d2 = j.groupBy(id_col, "cid", "subspace", "code").agg(
        F.sum(
            (F.col("r_micro") - F.col("c_micro"))
            * (F.col("r_micro") - F.col("c_micro"))
        ).alias("d2")
    )
    best = d2.groupBy(id_col, "cid", "subspace").agg(
        F.min(F.struct("d2", "code")).alias("__b")
    )
    return best.select(
        id_col, "cid", "subspace", F.col("__b.code").alias("code")
    )


def ivfpq_index(
    corpus: DataFrame,
    centroids: DataFrame,
    n_codes: int = 16,
    m: int = 8,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook_builder=None,
) -> tuple[DataFrame, DataFrame]:
    """Build the full index in ONE pass over the shared lineage:
    returns ``(codebooks, encoded)``. The coarse assignment (the
    n·L·d aggregation) and the residual stream feed BOTH outputs, so
    building them separately re-executes that work 2-3x per action,
    so the build persists (tracked — release via
    operators.release_operator_caches) the RESIDUAL LONG FORM
    (corpus×d rows): the codebook branch and the encode branch
    each consume it, and persisting only the id-grain assignment (the
    r13 shape) still re-ran the corpus explode + assignment join +
    centroid join once per branch — the plan showed the Generate
    subtree inlined ~50x across the composed search. Interleaved A/B
    (r14, sf0.1, full inline-build search): 4.26/4.61/4.62 s
    assign-persist vs 3.81/3.83/4.50 s res-persist. The persist is
    corpus-scale (MEMORY_AND_DISK — spills, never OOMs); it lives
    only for the build's action window and is released with
    release_operator_caches, the standard build-time trade.

    ``codebook_builder``: optional ``res_df -> codebooks_df`` hook
    replacing the default pseudo-label means — the public seam for
    TRAINED codebooks (:func:`pq_codebooks_trained`), so callers
    share this function's materialized assignment lineage instead of
    re-deriving it from private helpers (code-review r9 pass-3 #6).
    A builder returning a driver-local frame (values_df) needs no
    persist — it broadcasts.

    r15 (guide §1.2): the assignment + residual derivation is the
    fused array-native kernel — argmin cell and residual array in one
    projection over the un-exploded corpus, then ONE posexplode feeds
    the (subspace, dim)-grain aggregates. The r14 form exploded the
    corpus ×d twice per build (coarse-distance pass, residual fill)
    and ran two corpus-scale joins; all of it is gone from the plan
    (assignment values identical: exact BIGINT (d2, cid) argmin).
    The persist target is the ARRAY form (id, cid, residual array):
    same coordinate bytes as the r14 long-form persist in 1/d the
    rows, and the fill is a pure projection — the consumers pay the
    posexplode from cache instead (interleaved A/B at sf0.1:
    long-form 2.50/2.59/3.12 s vs array 2.18/2.39/2.63 s full
    build+write)."""
    ra = tracked_persist(
        _assign_residuals(corpus, centroids, sub_dim, id_col, vec_col)
    )
    res = _res_long_form(ra, sub_dim, id_col)
    if codebook_builder is not None:
        cb = codebook_builder(res)
    else:
        # codebook-sized; enc re-reads it
        cb = tracked_persist(_codebooks_from_residuals(res, n_codes, id_col))
    enc = _encode_from_residuals(res, cb, id_col)
    return cb, enc


def ivfpq_codebooks(
    corpus: DataFrame,
    centroids: DataFrame,
    n_codes: int = 16,
    m: int = 8,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Residual PQ codebooks ``(code, subspace, dim, c_micro)``:
    integer-division means of residuals grouped by the deterministic
    pseudo-label ``id % n_codes`` — the same label-mean quantizer
    device as :func:`pq_codebooks`, applied to residuals (grouping by
    the REAL label would zero the residual means, since the coarse
    centroids are exactly those label means). A trained k-means
    codebook drops in unchanged where hash parity isn't needed.
    Building codebooks AND codes? Use :func:`ivfpq_index` — it shares
    the coarse-assignment lineage instead of recomputing it."""
    res = _res_long_form(
        _assign_residuals(corpus, centroids, sub_dim, id_col, vec_col),
        sub_dim,
        id_col,
    )
    return _codebooks_from_residuals(res, n_codes, id_col)


def ivfpq_encode(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ index entries ``(id, cid, subspace, code)``: each vector
    carries its coarse cell plus m residual codes. This is the table
    a 100 TB deployment writes PARTITIONED BY cid, so a query's scan
    prunes to its n_probe cells at the source. Prefer
    :func:`ivfpq_index` when also building the codebooks."""
    res = _res_long_form(
        _assign_residuals(corpus, centroids, sub_dim, id_col, vec_col),
        sub_dim,
        id_col,
    )
    return _encode_from_residuals(res, codebooks, id_col)


def probed_cells(
    queries: DataFrame,
    centroids: DataFrame,
    n_probe: int = 2,
    m: int = 8,
    sub_dim: int = 8,
    query_id: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Each query's ``n_probe`` nearest coarse cells
    ``(query_id, cid)`` by exact integer L2 with the (d2, cid) total
    order. THE probe step — :func:`ivfpq_topk` runs it internally,
    and callers that need the probe list FIRST (to statically prune a
    cid-partitioned code lake before searching, s19_ivfpq_lake) call
    it directly: one definition keeps the pruning filter and the
    search's own probe tie-break identical by construction.

    Map-only (r15, guide §2.4): each query sorts the broadcast
    centroid structs by the exact (d2, cid) order and slices its
    n_probe nearest in ONE projection — the r14 form exploded ×d,
    aggregated nq·L distances and ran a per-query window, i.e. an
    exchange of the query batch per serve. array_sort on (d2, cid)
    structs is the same total order as the old row_number window, so
    the probe set is identical."""
    xm = queries.select(
        F.col(query_id), _micro_array(F.col(vec_col)).alias("__xm")
    )
    cells = F.slice(
        F.array_sort(
            F.transform(
                F.col("__cents"),
                lambda c: F.struct(
                    _sq_l2(F.col("__xm"), c["__c_arr"]).alias("__d2"),
                    c["cid"].alias("cid"),
                ),
            )
        ),
        1,
        n_probe,
    )
    return (
        xm.crossJoin(F.broadcast(_centroids_one_row(centroids, sub_dim)))
        .select(query_id, F.explode(cells).alias("__pc"))
        .select(query_id, F.col("__pc.cid").alias("cid"))
    )


def ivfpq_topk(
    queries: DataFrame,
    encoded: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    shortlist: int = 32,
    m: int = 8,
    sub_dim: int = 8,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    probes: DataFrame | None = None,
    exclude_ids: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ search: ``(query_id, vec_id, adc_d2, exact_d2, rank)``.

    ``exclude_ids``: optional one-column DataFrame of corpus ids to
    DELETE from the search (tombstones — VERDICT r12 ask #1). Applied
    as a broadcast anti-join on the ADC candidates BEFORE the
    shortlist window, so the result is value-identical to searching
    the same frozen index with those ids' codes removed: an excluded
    id can neither occupy a shortlist slot nor displace a live
    candidate. Broadcast is the right strategy by construction — a
    tombstone set is takedown-sized (the whole point is deleting
    WITHOUT a corpus-scale job); a tombstone set that has grown past
    broadcast size is the signal to fold it into a generation refresh
    (operators/ann_refresh.refresh_generation does this
    automatically).

    ``probes``: optionally pass a precomputed ``(query_id, cid)``
    probe table (from :func:`probed_cells` — e.g. pinned once and
    ALSO used as the static partition filter, :func:`serve_pruned`),
    so the nq·L·d coarse assignment is not paid twice per serve
    (ADVICE r8 #3 / code-review r9 pass-4 #5). Must have been built
    with the same centroids/n_probe/m/sub_dim or probe and prune
    diverge.

    1. PROBE: each query ranks the (broadcast) coarse centroids by
       exact integer L2 and keeps its ``n_probe`` nearest cells.
    2. ADC over probed lists ONLY: the per-(query, cell) residual LUT
       (nq·n_probe·m·n_codes rows — broadcast) joins the code table
       on (cid, subspace, code), so codes outside probed cells drop
       at the broadcast hash join with no shuffle of the code table;
       with the code table stored partitioned by cid the scan itself
       prunes. This is the composition pq_adc_topk lacks (its LUT
       join touches every corpus code per query).
    3. EXACT RERANK: only the ``shortlist`` best ADC candidates per
       query rejoin the raw vectors (broadcast shortlist filters the
       corpus scan) for exact integer squared-L2; final top-k orders
       by (exact_d2, id).

    The query-side tables (LUT, shortlist and query vectors) are
    broadcast: this is the serving regime, a query BATCH small enough
    that its LUT (nq·n_probe·m·n_codes rows) and shortlist
    (nq·shortlist) fit one executor.

    All-BIGINT arithmetic end to end — bitwise-stable ranking, no
    IEEE accumulation-order analysis."""

    if probes is None:
        probes = probed_cells(
            queries, centroids, n_probe, m, sub_dim, query_id, vec_col
        )

    # per-(query, probed-cell) residual LUT against the residual
    # codebook — same residual join as the corpus side (probes plays
    # the assignment table: one row per (query, probed cell))
    qres = _residual_lf(
        queries, centroids, probes, m, sub_dim, query_id, vec_col
    )
    lut = (
        qres.join(F.broadcast(codebooks), ["subspace", "dim"])
        .groupBy(query_id, "cid", "subspace", "code")
        .agg(
            F.sum(
                (F.col("r_micro") - F.col("c_micro"))
                * (F.col("r_micro") - F.col("c_micro"))
            ).alias("lut_d2")
        )
    )

    # ADC over probed lists: cell-equi join, LUT broadcast
    adc = (
        encoded.join(F.broadcast(lut), ["cid", "subspace", "code"])
        .where(F.col(query_id) != F.col(corpus_id))
        .groupBy(query_id, corpus_id)
        .agg(F.sum("lut_d2").alias("adc_d2"))
    )
    if exclude_ids is not None:
        # NO distinct(): left_anti is duplicate-insensitive, so
        # re-appended tombstone ids change nothing, and a distinct
        # would add the exclusion's only shuffle (of a takedown-sized
        # table — cheap, but the plan-shape contract is "broadcast
        # anti-join, zero added exchanges", pinned in
        # test_plan_shapes). Applied pre-shortlist — see docstring.
        ex_col = exclude_ids.columns[0]
        adc = adc.join(
            F.broadcast(exclude_ids.select(F.col(ex_col).alias(corpus_id))),
            corpus_id,
            "left_anti",
        )
    ws = Window.partitionBy(query_id).orderBy("adc_d2", corpus_id)
    short = (
        adc.withColumn("__rn", F.row_number().over(ws))
        .where(F.col("__rn") <= shortlist)
        .select(query_id, corpus_id, "adc_d2")
    )

    # exact rerank of the shortlist only. The corpus joins the
    # (broadcast) shortlist BEFORE anything touches coordinates (r14,
    # guide §3.3), and the exact distance is ONE array fold per
    # shortlist hit (r15): micro-quantize both vectors with
    # transform() and fold Σ(q−x)² in exact BIGINT — the r14 form
    # exploded the hits ×d AND the query batch ×d, joined the two
    # streams on (query_id, subspace, dim) and re-aggregated
    # nq·shortlist·d rows back to nq·shortlist. Integer addition is
    # order-free, so exact_d2 is bit-identical. `short` stays
    # referenced exactly once (a semi-join prefilter variant
    # referenced it twice and duplicated the tombstone anti-join
    # subtree in the plan).
    hit = corpus.select(
        F.col(corpus_id), _micro_array(F.col(vec_col)).alias("__xm")
    ).join(F.broadcast(short), corpus_id)
    qx = queries.select(
        F.col(query_id), _micro_array(F.col(vec_col)).alias("__qm")
    )
    exact = hit.join(F.broadcast(qx), query_id).select(
        query_id,
        corpus_id,
        "adc_d2",
        _sq_l2(F.col("__qm"), F.col("__xm")).alias("exact_d2"),
    )
    wk = Window.partitionBy(query_id).orderBy("exact_d2", corpus_id)
    return (
        exact.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select(query_id, corpus_id, "adc_d2", "exact_d2", "rank")
    )


def centroids_to_micro(
    centroids: DataFrame,
    m: int = 8,
    sub_dim: int = 8,
    id_col: str = "centroid_id",
    vec_col: str = "centroid",
) -> DataFrame:
    """Adapter: a float centroid table (similarity.kmeans_centroids'
    ``(centroid_id, centroid array<double>)``) -> the micro-unit long
    form every IVF-PQ stage consumes ``(cid, subspace, dim,
    c_micro)``. This is the drop-in seam for a TRAINED coarse
    quantizer where cross-engine hash parity is not required — the
    rest of the pipeline is unchanged."""
    lf = _long_form(
        centroids.select(id_col, vec_col), id_col, vec_col, m, sub_dim
    )
    return lf.select(
        F.col(id_col).alias("cid"),
        "subspace",
        "dim",
        F.col("x_micro").alias("c_micro"),
    )


def trained_coarse_centroids(
    emb: DataFrame,
    k: int = 8,
    iterations: int = 2,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LEARNED coarse quantizer in the PQ long-form centroid shape
    ``(cid, subspace, dim, c_micro)`` — the integer fixed-point
    Lloyd's (``similarity.kmeans_centroids_int``) adapted as the
    drop-in replacement for :func:`ivf_coarse_centroids`' label
    means. Moved here from plans/catalog37.py in r10 so the
    generation-rotation refresh (operators/ann_refresh.py) and the
    registered trained-ANN queries share one definition."""
    from .similarity import kmeans_centroids_int

    ci = kmeans_centroids_int(
        emb, k=k, iterations=iterations, corpus_id=id_col, vec_col=vec_col
    )
    return ci.select(
        F.col("centroid_id").alias("cid"),
        F.posexplode("centroid").alias("pos", "c_micro"),
    ).select(
        "cid",
        (F.col("pos") / sub_dim).cast("int").alias("subspace"),
        (F.col("pos") % sub_dim).cast("int").alias("dim"),
        F.col("c_micro").cast("bigint").alias("c_micro"),
    )


def pq_codebooks_trained(
    res: DataFrame,
    n_codes: int = 16,
    iterations: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Residual PQ codebooks TRAINED by the integer fixed-point
    Lloyd's (round 9) — the production replacement for
    :func:`_codebooks_from_residuals`' ``id % n_codes`` pseudo-label
    means, which are deterministic but arbitrary (no relation to
    residual structure). All m subspaces train SIMULTANEOUSLY in one
    chain: assignment is per (vector, subspace) — nearest code by
    exact integer squared-L2 over that subspace's dims, tie to the
    lower code — and the update is the truncating integer-division
    mean per (subspace, code, dim); empty codes keep their previous
    entry. Seeds are the residual subvectors of the ``n_codes``
    lowest-id vectors (rank = code), so the whole training is a pure
    integer function of the data, replayable as unrolled CTEs
    (plans/catalog37.py) — same promotion device as
    ``similarity.kmeans_centroids_int``.

    Per iteration: one broadcast-codebook join + two combinable
    groupBys; only n_codes·m·sub_dim codebook rows (about 1k) ever
    reach the driver. Returns ``(code, subspace, dim, c_micro)``.
    """
    from ..sources.inline import values_df

    spark = res.sparkSession
    res = res.select(id_col, "subspace", "dim", "r_micro").persist()
    try:
        seed_ids = [
            int(r[0])
            for r in res.select(id_col)
            .distinct()
            .orderBy(id_col)
            .limit(n_codes)
            .collect()
        ]
        seed_map = values_df(
            spark,
            f"code: int, {id_col}: bigint",
            [(i, v) for i, v in enumerate(seed_ids)],
        )
        kb = [
            (int(r["code"]), int(r["subspace"]), int(r["dim"]), int(r["r_micro"]))
            for r in res.join(seed_map, id_col).select(
                "code", "subspace", "dim", "r_micro"
            ).collect()
        ]
        for _ in range(iterations):
            cbdf = values_df(
                spark, "code: int, subspace: int, dim: int, c: bigint", kb
            )
            d2 = (
                res.join(F.broadcast(cbdf), ["subspace", "dim"])
                .groupBy(id_col, "subspace", "code")
                .agg(
                    F.sum(
                        (F.col("r_micro") - F.col("c"))
                        * (F.col("r_micro") - F.col("c"))
                    ).alias("d2")
                )
            )
            best = d2.groupBy(id_col, "subspace").agg(
                F.min(F.struct("d2", "code")).alias("__b")
            ).select(id_col, "subspace", F.col("__b.code").alias("code"))
            upd = {
                (int(r["code"]), int(r["subspace"]), int(r["dim"])): int(r["c"])
                for r in best.join(res, [id_col, "subspace"])
                .groupBy("code", "subspace", "dim")
                .agg(F.expr("sum(r_micro) div count(1)").alias("c"))
                .collect()
            }
            kb = [
                (c, s, d, upd.get((c, s, d), prev)) for c, s, d, prev in kb
            ]
        return values_df(
            spark, "code: int, subspace: int, dim: int, c_micro: bigint", kb
        )
    finally:
        res.unpersist()


# serve_pruned pins probe tables at or below this row count as a
# driver-local relation (nq·n_probe rows of two ints; collected Row
# objects carry ~200 B of Python overhead each, so the threshold caps
# the transient driver cost at ~50 MB); larger batches stay
# distributed and lazy
_PROBE_LOCAL_MAX = 250_000
# below this, the local relation is rendered as a pure-JVM VALUES
# statement (no Python runners downstream); above, createDataFrame
_PROBE_VALUES_MAX = 10_000


def _lake_has_data(spark, path: str) -> bool:
    """Alias of :func:`...sources.lake.has_committed_data` — kept so
    the serve/ingest call sites keep their historical name (the
    definition moved to lake.py in r10 when the pipeline runner
    became a third consumer)."""
    from ..sources.lake import has_committed_data

    return has_committed_data(spark, path)


def serve_pruned(
    queries: DataFrame,
    codes_path: str,
    centroids: DataFrame,
    codebooks: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    shortlist: int = 32,
    m: int = 8,
    sub_dim: int = 8,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    missing_ok: bool = False,
    exclude_ids: DataFrame | None = None,
) -> DataFrame | None:
    """THE serving recipe against a persisted cid-partitioned code
    lake — one definition for the batch serve queries
    (emb_ivfpq_serve, s19_ivfpq_lake) and the streaming serve
    (streaming/ann_stream.stream_ivfpq_serve), so probe semantics,
    partition-prune filter, and cid dtype handling cannot drift
    between copies (code-review r9 pass-4 #4).

    The session's DPP setting
    (``spark.sql.optimizer.dynamicPartitionPruning.enabled``) selects
    how the cid-partitioned scan is restricted to the probed cells
    (VERDICT r10 ask #1 — warm serve latency is JOB-COUNT-bound at
    serving batch sizes, measured: a two-phase shortlist-collect
    variant LOST 0.25 s to the extra job boundary despite scanning
    less):

    - DPP on (the Spark default): DYNAMIC partition pruning — the ADC
      join already equi-joins the partition column against the
      broadcast LUT, so Catalyst inserts a runtime partition filter
      on ``cid`` and the scan prunes to the probed cells inside the
      ONE search job, with no driver-side probe collect at all.
    - DPP off: the static r9 recipe — materialize the probe table,
      pin its cells as a driver-derived ``cid IN (...)`` filter.
      Both paths are value-identical by construction: pruning only
      moves WHERE the cell restriction is applied.

    Static steps: materialize the probe table once — it feeds BOTH the
    driver-side static ``cid IN (...)`` partition filter and
    :func:`ivfpq_topk`'s internal LUT, so the nq·L·d coarse
    assignment is paid once, not twice. Serving-sized query batches
    (≤ ``_PROBE_LOCAL_MAX`` probe rows) pin it as a LOCAL RELATION,
    which unlike the previous eager localCheckpoint leaves NO
    executor storage blocks behind (ADVICE r9 #4: a long-running
    serve stream accumulated un-released checkpoint RDDs, relying on
    driver GC to reclaim them); batches past the threshold stay
    distributed AND lazy — the probe aggregation recomputes inside
    the search rather than pinning storage a long-running stream
    would never release (code-review r10 #3 / pass-2 #2 — probe rows
    scale with the query batch, so an unconditional collect would be
    an unbounded driver materialization, and an unconditional persist
    an unbounded storage accretion). Then read the lake pruned to
    the probed cells, restore the partition-inferred ``cid`` to the
    centroid table's dtype, and search.

    Readiness means COMMITTED DATA, not directory existence (a
    concurrent ingest's job setup creates the dir before any footer
    commits — code-review r9 pass-5 #2): an unready lake returns
    ``None`` under ``missing_ok`` (the streaming idle contract) and
    raises ``FileNotFoundError`` otherwise, because a BATCH caller
    whose artifacts vanished (scratch swept, partial bootstrap) must
    fail loudly, not dereference None (pass-5 #3).
    """
    from ..sources.inline import values_df

    spark = queries.sparkSession
    if not _lake_has_data(spark, codes_path):
        if missing_ok:
            return None
        raise FileNotFoundError(
            f"IVF-PQ code lake at {codes_path} has no committed data"
            " files (missing, still being written, or swept)"
        )
    cid_type = dict(centroids.dtypes)["cid"]
    dpp_on = (
        spark.conf.get(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled", "true"
        )
        == "true"
    )
    if dpp_on:
        lake = spark.read.parquet(codes_path).withColumn(
            "cid", F.col("cid").cast(cid_type)
        )
        return ivfpq_topk(
            queries, lake, centroids, codebooks, corpus,
            k=k, n_probe=n_probe, shortlist=shortlist, m=m,
            sub_dim=sub_dim, query_id=query_id, corpus_id=corpus_id,
            vec_col=vec_col, exclude_ids=exclude_ids,
        )

    probes = probed_cells(
        queries, centroids, n_probe, m, sub_dim, query_id, vec_col
    )
    # the local-relation pin is bounded (code-review r10 #3: probe
    # rows scale with the QUERY batch, not the centroid count — a
    # huge batch must not be collected). Small batches — the serving
    # regime — become a LocalRelation with zero storage blocks;
    # a batch past the threshold keeps the probe table fully
    # distributed and lazy — the coarse assignment re-runs inside the
    # search, which is the right trade against pinning storage that
    # nothing on a long-running stream would ever release (pass-2
    # #2: a tracked_persist here re-opened the ADVICE r9 #4
    # accretion leak for over-threshold streams).
    # ONE probe job, not two (VERDICT r10 ask #1 — warm serve latency
    # is job-count-bound at serving batch sizes): branch via
    # limit(N+1).collect() instead of count()-then-collect(). The
    # over-threshold path transiently holds N+1 rows (~50 MB at the
    # 250k cap) only to discard them — the trade pass-2 #6 rejected
    # when the cap was a million rows — but that path is the OFFLINE
    # bulk regime; the serving hot path saves a scheduled job per
    # call, which at 3-query batches is a double-digit share of warm
    # latency.
    probe_rows = probes.limit(_PROBE_LOCAL_MAX + 1).collect()
    if len(probe_rows) <= _PROBE_LOCAL_MAX:
        cids = sorted({r["cid"] for r in probe_rows})
        if 0 < len(probe_rows) <= _PROBE_VALUES_MAX:
            # pure-JVM VALUES relation: no Python runners on any
            # downstream action (sources/inline.py rationale), no
            # storage blocks. Bigger small-batches fall back to
            # createDataFrame — a megabyte-scale VALUES string would
            # move the cost into the SQL parser instead.
            probes = values_df(
                spark,
                ", ".join(f"{n}: {t}" for n, t in probes.dtypes),
                [tuple(r) for r in probe_rows],
            )
        elif probe_rows:
            probes = spark.createDataFrame(probe_rows, probes.schema)
    else:
        probe_rows = None  # release before the distinct() job
        cids = sorted(
            r["cid"] for r in probes.select("cid").distinct().collect()
        )
    lake = (
        spark.read.parquet(codes_path)
        .where(F.col("cid").isin(cids))
        .withColumn("cid", F.col("cid").cast(cid_type))
    )
    return ivfpq_topk(
        queries,
        lake,
        centroids,
        codebooks,
        corpus,
        k=k,
        n_probe=n_probe,
        shortlist=shortlist,
        m=m,
        sub_dim=sub_dim,
        query_id=query_id,
        corpus_id=corpus_id,
        vec_col=vec_col,
        probes=probes,
        exclude_ids=exclude_ids,
    )
