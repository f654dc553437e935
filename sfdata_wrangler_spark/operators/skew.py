"""Skew-handling utilities (SURVEY.md §4: trunk routes / hot users).

AQE's skew-join splitting covers joins; for AGGREGATIONS over skewed
keys (a hot route with 100× the rows of the median), the classic fix
is two-phase salted aggregation: shuffle once on (key, salt) so the
hot key spreads over N reducers, then combine the N partials. Only
algebraic aggregates (sum/count/min/max) compose; avg is derived
sum/count.
"""

from __future__ import annotations

import logging
from contextlib import contextmanager
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def scale_skew_conf(
    approx_shuffle_bytes: int,
    target_splits: int = 16,
    floor_bytes: int = 1 << 20,
) -> dict[str, str]:
    """AQE skew-join thresholds scaled to THIS JOB's shuffle size.

    The measured footgun this codifies (ARCHITECTURE "Hot JOIN key",
    VERDICT r11 ask #3): AQE only splits a skewed join partition when
    its size exceeds ``skewedPartitionThresholdInBytes`` — default
    **256 MB**. At 100 TB a real hot key dwarfs that and splits out of
    the box; at mid scale (a 4M-row hot key ≈ tens of MB) the default
    silently never fires, so "AQE skewJoin on" measures IDENTICAL to
    off (2.47 s vs 2.47 s on the committed 100× hot-user replica)
    while data-scaled thresholds recover the serial tail (1.19 s,
    1.9×). The recipe that produced that split: threshold ≈ total
    shuffle bytes / ``target_splits``, advisory = threshold / 2 — i.e.
    let the hottest key become at least ``target_splits`` tasks.

    Pass the APPROXIMATE total shuffle size of the skewed join's fact
    side (``df.rdd`` sampling not required — the input's on-disk bytes
    are a fine proxy; overestimating just splits a little finer).
    ``floor_bytes`` keeps the thresholds from collapsing below 1 MB on
    tiny inputs, where splitting is pure overhead.

    Returns the conf dict (all runtime SQL confs, settable per session
    or per :func:`skew_conf_scope`). ``coalescePartitions`` is
    disabled while scaled: ``advisoryPartitionSizeInBytes`` doubles as
    the coalesce target, and an 8 MB advisory would otherwise shatter
    every OTHER exchange in the query into micro-partitions.
    """
    thr = max(floor_bytes, int(approx_shuffle_bytes) // target_splits)
    adv = max(floor_bytes // 2, thr // 2)
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": str(thr),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(adv),
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }


@contextmanager
def skew_conf_scope(spark, approx_shuffle_bytes: int, **kw):
    """Apply :func:`scale_skew_conf` for the duration of a block and
    restore the previous session values after — the ergonomic form for
    wrapping ONE known-skewed join without leaking an 8 MB advisory
    partition size into the rest of the session's planning::

        with skew_conf_scope(spark, approx_shuffle_bytes=fact_bytes):
            out = fact.join(dim, "user_id").groupBy(...).agg(...)
            out.write.parquet(dst)   # plan + EXECUTE inside the scope

    The confs are read at PLANNING time, so the action consuming the
    join must run inside the scope too."""
    conf = scale_skew_conf(approx_shuffle_bytes, **kw)
    prev: dict[str, str | None] = {}
    # snapshot/apply INSIDE the try (ADVICE r12 #2): if conf.set fails
    # on the Nth key, the finally below restores the N-1 already
    # applied instead of leaking scaled thresholds into the session
    try:
        for k, v in conf.items():
            # get(k, None): the one-arg get() returns the registered
            # SQLConf DEFAULT for unset keys (never raising), which
            # would make the finally block pin the snapshot default
            # explicitly instead of unset()ting — leaking the scope
            # into the session (code-review r12 #1, reproduced by the
            # isolated test run)
            prev[k] = spark.conf.get(k, None)
            spark.conf.set(k, v)
        yield conf
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


# the auto-pick knee's calibration point (VERDICT r12 ask #7): on
# local[32] (defaultParallelism 32) the measured crossover where the
# bucketed/agg skew-immune forms start beating the plain window is a
# hot entity of ~1M rows (ARCHITECTURE round-11/12 skew tables:
# 4M-row hot user — plain 5.2x vs bucketed 2.7x growth; <=1M — plain
# wins 0.78-0.94s vs 1.33-1.40s). 1M = 125k rows/task x (32 // 4).
KNEE_ROWS_PER_TASK = 125_000


def default_knee_rows(
    spark,
    rows_per_task: int = KNEE_ROWS_PER_TASK,
    hot_entity_tasks: int | None = None,
) -> int:
    """Session-derived default for the ``strategy="auto"`` knee
    (VERDICT r12 ask #7: the previous ``knee_rows=1_000_000`` literal
    was a local[32] constant that silently mis-picks on any other
    cluster).

    Derivation: the plain window's failure mode is the hottest
    entity's rows sorted on ONE task while every other slot drains
    the rest of the stage. That single task stops hiding behind the
    parallel work once it holds more than ``hot_entity_tasks`` healthy
    tasks' worth of rows — i.e. once splitting it would shorten the
    stage's critical path severalfold. So::

        knee = rows_per_task x hot_entity_tasks
        hot_entity_tasks default = max(1, defaultParallelism // 4)

    ``rows_per_task`` = 125k is the calibrated per-task volume at
    which one task's window sort costs about the scan+shuffle work it
    hides behind on this class of hardware; at local[32] the default
    reproduces the measured 1M knee exactly. The ``P // 4`` scaling
    assumes data grows WITH the cluster (per-slot volume roughly
    constant — the 100 TB deployment shape): more slots mean
    proportionally more total work for the hot entity's single task
    to hide behind, so the tolerable hot-entity size grows linearly
    in P. A cluster over-provisioned relative to its data (slots idle
    in the steady state) violates that assumption — pass ``knee_rows``
    explicitly there, or re-derive ``rows_per_task`` from a measured
    plain-vs-bucketed crossover as ``knee_measured / (P // 4)``."""
    p = spark.sparkContext.defaultParallelism
    tasks = (
        hot_entity_tasks
        if hot_entity_tasks is not None
        else max(1, p // 4)
    )
    return int(rows_per_task) * int(tasks)


# Full-pipeline knee multiplier over default_knee_rows, MEASURED on
# the committed 100x replicas (tools/pipeline_skew_probe.py, round
# 13): the clipper/taxi bucketed twins carry lag state through 3-4
# narrow fact passes where bare sessionize_bucketed needs 2, so their
# overhead is ~23-25 s at 10M rows on local[32] while plain's
# straggler excess is ~2.55 s per MILLION hot rows (hot-user replica:
# plain 13.2/14.4 s at a 4M-row hot entity vs uniform 2.95/3.70 s) —
# crossover hot ~= (23 - 3) / 2.55 ~= 8M rows = 8x the bare-operator
# knee. The sharper model is hot* ∝ rows-per-slot (see
# default_knee_rows' assumption note); this factor keeps the two
# knees consistent under it.
PIPELINE_KNEE_FACTOR = 8.0


def resolve_window_strategy(
    df: DataFrame,
    entity_cols: Sequence[str],
    strategy: str,
    knee_rows: int | None,
    log: logging.Logger,
    label: str,
    knee_factor: float = 1.0,
    ts_col: str | None = None,
) -> str:
    """Shared ``strategy="auto"`` dispatch for the per-entity window
    pipelines (clipper linked trips, taxi trip segmentation —
    code-review r13 #8 deduplication): resolves the knee
    (:func:`default_knee_rows` x ``knee_factor`` when ``knee_rows``
    is None — pipelines whose bucketed twin costs more than the bare
    operator pass :data:`PIPELINE_KNEE_FACTOR`), runs ONE
    dimension-sized pre-flight pass, logs the pick, and validates the
    strategy name. Returns "plain" or "bucketed".

    ``ts_col`` (ADVICE r13 #1): the bucketed twins bucket rows BY
    TIME, so a null timestamp — which the plain window form tolerates
    (nulls sort first within their entity) — would land in a
    nulls-first bucket and change lag/session assignment versus
    plain. When ``ts_col`` is given, the same pre-flight aggregation
    that finds the hottest entity also counts null timestamps
    (one extra map-side expression, still one dimension-sized job),
    and auto falls back to "plain" on any null — mirroring
    ``sessionize(strategy="auto")``'s rule that auto never routes an
    input to a form with stricter preconditions than plain's. An
    explicit ``strategy="bucketed"`` stays loud-by-contract: the
    caller asserted the feed's invariants. Order-agreement contracts
    that need a per-entity sort to check (clipper's seq/ts agreement)
    remain the caller's responsibility — no dimension-sized probe can
    see them."""
    if strategy == "auto":
        knee = (
            knee_rows
            if knee_rows is not None
            else int(default_knee_rows(df.sparkSession) * knee_factor)
        )
        if ts_col is None:
            hot, nulls = max_partition_rows(df, list(entity_cols)), 0
        else:
            # max_partition_rows' aggregation FUSED with the null-ts
            # count — still one dimension-sized pre-flight job
            row = (
                df.groupBy(*list(entity_cols))
                .agg(
                    F.count(F.lit(1)).alias("__rws_n"),
                    F.sum(
                        F.when(F.col(ts_col).isNull(), 1).otherwise(0)
                    ).alias("__rws_nullts"),
                )
                .agg(
                    F.max("__rws_n").alias("__rws_hot"),
                    F.sum("__rws_nullts").alias("__rws_nulls"),
                )
            ).collect()[0]
            hot = int(row["__rws_hot"] or 0)
            nulls = int(row["__rws_nulls"] or 0)
        if nulls > 0:
            strategy = "plain"
            log.info(
                "%s auto pick: plain (%d null %s rows — the bucketed "
                "twin requires non-null timestamps; hottest %s %d "
                "rows, knee %d)",
                label, nulls, ts_col, "/".join(entity_cols), hot, knee,
            )
        else:
            strategy = "bucketed" if hot > knee else "plain"
            log.info(
                "%s auto pick: %s (hottest %s %d rows, knee %d)",
                label, strategy, "/".join(entity_cols), hot, knee,
            )
    if strategy not in ("plain", "bucketed"):
        raise ValueError(
            f"strategy must be 'plain', 'bucketed' or 'auto', got "
            f"{strategy!r}"
        )
    return strategy


def join_back_nullsafe(
    fact: DataFrame,
    small: DataFrame,
    keys: Sequence[str],
    prefix: str,
) -> DataFrame:
    """Null-safe equi join-back of a per-group table onto the fact —
    the shared step of the bucketed skew-immune window decompositions
    (``windows.sessionize_bucketed`` and the r13 clipper/taxi bucketed
    twins; ``calc_weights(strategy="agg")`` keeps its own inline
    variant because its factor table is explicitly broadcast).
    Windows group NULL keys together, so a plain equi-join here would
    silently drop null-keyed rows; ``small``'s key columns are renamed
    with ``prefix`` for the join and dropped after. Unlike a window
    partition, this join is AQE-skew-splittable, which is exactly why
    the decompositions end in it."""
    keys = list(keys)
    renamed = small.select(
        *[F.col(k).alias(f"{prefix}{k}") for k in keys],
        *[c for c in small.columns if c not in keys],
    )
    cond = None
    for k in keys:
        eq = F.col(k).eqNullSafe(F.col(f"{prefix}{k}"))
        cond = eq if cond is None else cond & eq
    return fact.join(renamed, cond).drop(*[f"{prefix}{k}" for k in keys])


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    sums: Sequence[str] = (),
    counts: bool = True,
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation: groupBy(keys + salt) partials, then
    groupBy(keys) combine. Returns sum_<c> per requested column and
    n_rows. Equivalent to a direct groupBy (tested), but the first
    shuffle spreads each hot key over ``salt_buckets`` reducers."""
    salt = (F.rand(seed=7) * salt_buckets).cast("int").alias("__salt")
    partial_aggs = [F.sum(c).alias(f"sum_{c}") for c in sums]
    if counts:
        partial_aggs.append(F.count(F.lit(1)).alias("n_rows"))
    partial = df.withColumn("__salt", salt).groupBy(*keys, "__salt").agg(
        *partial_aggs
    )
    final_aggs = [F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sums]
    if counts:
        final_aggs.append(F.sum("n_rows").alias("n_rows"))
    return partial.groupBy(*keys).agg(*final_aggs)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
    row_id_col: str | None = None,
) -> DataFrame:
    """Skew-safe equi join for when the dim side is too big to
    broadcast but the fact side has hot keys: replicate the dim side
    once per salt bucket (explode over a literal range — dim-sized ×
    ``salt_buckets``, the explicit price of skew safety) and assign
    each fact row ONE deterministic salt, so a hot key's rows spread
    over ``salt_buckets`` reducers instead of one straggler.
    Semantics identical to ``fact.join(dim, key, how)``: every fact
    row carries exactly one salt and meets exactly one dim replica.

    Only ``inner`` and ``left`` compose with dim replication (a
    right/full join would see the unreplicated dim rows
    ``salt_buckets`` times); AQE's skew-join split covers sort-merge
    plans reactively — this is the proactive form for when the skew
    is known up front (SURVEY §4 trunk routes / hot users).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    # the salt must be DETERMINISTIC on recompute: a per-row counter
    # (monotonically_increasing_id / rand) as part of a SHUFFLE KEY
    # is a correctness bug under task retry — recomputed map tasks
    # re-assign ids to reordered rows, so a fact row can land in two
    # salt partitions or in none (dropped or duplicated join rows,
    # the SPARK-23207 class). Hash every hashable fact column
    # instead: stable across retries, and a hot key's DISTINCT rows
    # still spread over the buckets. The residual limitation — rows
    # that are byte-identical share a salt — is inherent to any
    # deterministic function of the row; pass ``row_id_col`` (a
    # unique id) to spread exact duplicates too.
    if row_id_col is not None:
        hash_cols = [F.col(key), F.col(row_id_col)]
    else:
        from pyspark.sql.types import ArrayType, MapType, StructType

        def _has_map(dt) -> bool:
            # xxhash64 rejects maps at ANY nesting depth
            # (array<map<...>>, struct<..., map<...>>), not just
            # top-level MapType (ADVICE r6)
            if isinstance(dt, MapType):
                return True
            if isinstance(dt, ArrayType):
                return _has_map(dt.elementType)
            if isinstance(dt, StructType):
                return any(_has_map(f.dataType) for f in dt.fields)
            return False

        hash_cols = [
            F.col(f.name)
            for f in fact.schema.fields
            if not _has_map(f.dataType)
        ]
    salt = F.pmod(F.xxhash64(*hash_cols), F.lit(salt_buckets)).cast("int")
    salted_fact = fact.withColumn("__salt", salt)
    replicated_dim = dim.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
    )
    return salted_fact.join(replicated_dim, [key, "__salt"], how).drop(
        "__salt"
    )


def max_partition_rows(df: DataFrame, keys: Sequence[str]) -> int:
    """The hottest key-tuple's row count — :func:`skew_report`'s
    ``max_key_rows`` generalized to composite keys and reduced to the
    single number a strategy pick compares (VERDICT r11 ask #5).

    One map-side-combinable aggregation (each input partition emits at
    most one partial per live key) followed by a 1-row max — the
    pre-flight is dimension-sized regardless of fact size. NOTE: this
    is an EAGER action (one extra pass over ``df``'s pruned columns);
    callers on a hot path that already know their skew should pass an
    explicit strategy instead."""
    row = (
        df.groupBy(*list(keys))
        .agg(F.count(F.lit(1)).alias("__mpr_n"))
        .agg(F.max("__mpr_n").alias("__mpr_max"))
        .collect()[0]
    )
    return int(row["__mpr_max"] or 0)


def skew_report(
    df: DataFrame,
    key_col: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Join/shuffle skew diagnosis: per group, how concentrated is
    ``key_col``?

    Emits per group (all exact BIGINTs, shuffle-order independent):

    - ``n_rows``, ``n_keys`` — volume and distinct-key count;
    - ``max_key_rows`` — the hottest key's row count (the straggler
      bound: one reducer gets at least this many rows in any
      key-hash shuffle);
    - ``self_join_rows`` = Σ_k cnt(k)² — the EXACT output size of a
      self-equi-join on the key, i.e. the blow-up a careless
      key-join would materialize. This is the number to check
      BEFORE launching any key-keyed self-join at 100 TB.

    Two map-side-combinable aggregations (rows→keys, keys→groups);
    output is group-sized. The per-key intermediate is the same
    cardinality any groupBy on the key would produce — there is no
    cheaper exact way to get max/Σcnt².
    """
    gcols = list(group_cols)
    per_key = df.groupBy(*gcols, key_col).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    return per_key.groupBy(*gcols).agg(
        F.sum("__cnt").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("__cnt").cast("bigint").alias("max_key_rows"),
        F.sum(F.col("__cnt") * F.col("__cnt"))
        .cast("bigint")
        .alias("self_join_rows"),
    )


def join_size_estimate(
    a: DataFrame,
    b: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """EXACT output size of ``a ⋈ b`` on ``key_cols`` without running
    the join: Σ_k cnt_a(k)·cnt_b(k), plus the hottest key's
    contribution — the planner pre-flight that decides broadcast vs
    sort-merge vs salting BEFORE committing a 100 TB shuffle.

    Cost: one combinable count-aggregation per side (key-cardinality
    intermediates), one key-keyed join OF THE COUNT TABLES (dimension
    scale), one 1-row rollup. Compare `self_join_rows` in
    :func:`skew_report` (the self-join special case).
    """
    keys = list(key_cols)
    ca = a.groupBy(*keys).agg(F.count(F.lit(1)).cast("bigint").alias("__ca"))
    cb = b.groupBy(*keys).agg(F.count(F.lit(1)).cast("bigint").alias("__cb"))
    per_key = ca.join(cb, keys).withColumn(
        "__rows", F.col("__ca") * F.col("__cb")
    )
    return per_key.agg(
        F.coalesce(F.sum("__rows"), F.lit(0))
        .cast("bigint")
        .alias("join_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_matching_keys"),
        F.coalesce(F.max("__rows"), F.lit(0))
        .cast("bigint")
        .alias("max_key_rows"),
    )
