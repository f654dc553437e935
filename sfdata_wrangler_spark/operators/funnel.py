"""Event-sequence analytics: ordered funnels and retention cohorts.

The events-table counterpart of the reference's sessionization
family (ClipperHelper.py:204-246 infers linked trips from ordered
tag-ons; TaxiDataHelper.py:205-309 segments GPS streams): given a
user event stream, measure ordered step completion (funnel) and
cohort survival over time (retention) — the two queries every
event warehouse runs at fact scale.

Funnel shape: step k's earliest qualifying timestamp is a filtered
min AFTER step k-1's timestamp — k-1 chained (user-keyed) equi
joins over progressively SHRINKING step streams, each one hash
shuffle. No window over the whole event stream, no UDF: the per-user
event history never materializes anywhere.

Retention shape: first-event cohort (one groupBy) joined back to
activity months (one groupBy), counted per (cohort, offset). Both
sides are user-grain aggregates — orders of magnitude smaller than
the event stream they summarize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._cache import tracked_persist

__all__ = [
    "funnel_steps",
    "funnel_episodes",
    "funnel_summary",
    "retention_cohorts",
]


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    within_seconds: float | None = None,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-user ordered funnel: ``(user, t1, t2, ..., tk)`` where
    ``t_i`` is the EARLIEST step-i event at or after ``t_{i-1}``
    (strictly ordered semantics; null once the chain breaks).
    ``within_seconds`` additionally requires every step to land
    within the window opened at t1."""
    cur = (
        events.where(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t1"))
    )
    # window arithmetic in EXACT integer microseconds, the same units
    # the streaming twin's state transition uses — double epoch-second
    # comparisons can flip at exact-boundary timestamps (rounding of
    # micros/1e6 carries ~7e-7 s of error), breaking batch==stream
    # parity precisely on the boundary the semantics define
    # round, don't truncate: int() floors 4.1 s to 4_099_999 µs for
    # floats with inexact binary representation, shifting the inclusive
    # boundary by 1 µs (ADVICE r6)
    within_us = (
        None if within_seconds is None else round(within_seconds * 1_000_000)
    )
    for i, step in enumerate(steps[1:], start=2):
        nxt = events.where(F.col(type_col) == step).select(
            user_col, F.col(ts_col).alias("__ts")
        )
        cond = F.col("__ts") >= F.col(f"t{i - 1}")
        if within_us is not None:
            cond = cond & (
                F.unix_micros("__ts") - F.unix_micros("t1") <= within_us
            )
        # ONE reference to ``cur`` per step: a left join plus
        # conditional min. The earlier inner-join-then-join-back shape
        # referenced ``cur`` twice per iteration, so the unshared plan
        # subtree DOUBLED with every funnel step (2^(k-1) copies of
        # the step-1 aggregation in a k-step funnel — r5 plan audit).
        # Broken chains fall out naturally: no qualifying row →
        # min(when(cond)) is null. One events scan per step remains,
        # each with the step predicate pushed down.
        cur = (
            cur.join(nxt, user_col, "left")
            .groupBy(user_col, *[f"t{j}" for j in range(1, i)])
            .agg(F.min(F.when(cond, F.col("__ts"))).alias(f"t{i}"))
        )
    return cur


def funnel_episodes(
    events: DataFrame,
    steps: list[str],
    within_seconds: float,
    max_episodes: int = 4,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Multi-episode funnel: ``(user, episode, t1, ..., tk)`` — one
    row per greedy funnel EPISODE, where episode 1 opens at the
    user's earliest step-1 event and episode e+1 at the earliest
    step-1 event strictly beyond episode e's ``within`` window. Each
    episode's chain follows the same earliest-qualifying rule as
    :func:`funnel_steps` (t_i >= t_{i-1}, t_i - t1 <= within; null
    after the break).

    ``max_episodes`` bounds the unroll (documented cap): both the
    Spark plan and the SQL restatement become a FIXED number of
    user-keyed join+agg stages — no recursion, no per-user UDF. Seed
    stage e joins the user-grain seed table (one row per user) back
    to the step-1 slice. Each seed frame is referenced twice (next
    stage + final union), so WITHOUT materialization stage e
    re-executes stages 1..e-1 — triangular recomputation of the
    step-1 scan, O(E^2) at the cap. Each user-grain seed frame is
    therefore persisted (tracked — operators.release_operator_caches
    frees them), making the work linear in max_episodes: the
    oracle's MATERIALIZED CTEs state the same choice.

    This is the batch twin of the streaming operator
    (streaming/funnel_stream.stateful_funnel), which emits the same
    per-episode rows incrementally; on any closed dataset with at
    most ``max_episodes`` episodes per user the two agree exactly
    (differential-tested in tests/test_streaming_funnel.py)."""
    # exact integer microseconds — see funnel_steps' boundary note
    # (round, not int: truncation shifts fractional windows by 1 µs)
    within_us = round(within_seconds * 1_000_000)
    s1 = events.where(F.col(type_col) == steps[0]).select(
        user_col, F.col(ts_col).alias("__t")
    )
    prev = tracked_persist(
        s1.groupBy(user_col)
        .agg(F.min("__t").alias("t1"))
        .withColumn("episode", F.lit(1))
    )
    seed_frames = [prev]
    for e in range(2, max_episodes + 1):
        prev = tracked_persist(
            prev.select(user_col, "t1")
            .join(s1, user_col)
            .where(
                F.unix_micros("__t") - F.unix_micros("t1") > within_us
            )
            .groupBy(user_col)
            .agg(F.min("__t").alias("t1"))
            .withColumn("episode", F.lit(e))
        )
        seed_frames.append(prev)
    cur = seed_frames[0]
    for f in seed_frames[1:]:
        cur = cur.unionByName(f)
    cur = cur.select(user_col, "episode", "t1")

    for i, step in enumerate(steps[1:], start=2):
        nxt = events.where(F.col(type_col) == step).select(
            user_col, F.col(ts_col).alias("__ts")
        )
        cond = (F.col("__ts") >= F.col(f"t{i - 1}")) & (
            F.unix_micros("__ts") - F.unix_micros("t1") <= within_us
        )
        cur = (
            cur.join(nxt, user_col, "left")
            .groupBy(user_col, "episode", *[f"t{j}" for j in range(1, i)])
            .agg(F.min(F.when(cond, F.col("__ts"))).alias(f"t{i}"))
        )
    return cur


def funnel_summary(
    events: DataFrame,
    steps: list[str],
    within_seconds: float | None = None,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """One row per funnel step: users reaching it (monotone
    non-increasing by construction)."""
    per_user = funnel_steps(
        events, steps, within_seconds, user_col, ts_col, type_col
    )
    counts = per_user.agg(
        *[
            F.count(f"t{i}").cast("bigint").alias(f"n{i}")
            for i in range(1, len(steps) + 1)
        ]
    )
    pairs = []
    for i, step in enumerate(steps, start=1):
        pairs.append(
            F.struct(
                F.lit(i).alias("step"),
                F.lit(step).alias("event_type"),
                F.col(f"n{i}").alias("n_users"),
            )
        )
    return counts.select(F.explode(F.array(*pairs)).alias("s")).select(
        F.col("s.step").alias("step"),
        F.col("s.event_type").alias("event_type"),
        F.col("s.n_users").alias("n_users"),
    )


def retention_cohorts(
    events: DataFrame,
    period: str = "month",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Classic retention triangle: users grouped by first-activity
    period (cohort), counted in each subsequent activity period as
    ``(cohort_period, period_offset, n_users)``. ``period`` is
    ``"month"`` or ``"day"``."""
    first = events.groupBy(user_col).agg(
        F.date_trunc(period, F.min(ts_col)).alias("cohort_period")
    )
    active = (
        events.select(
            user_col, F.date_trunc(period, F.col(ts_col)).alias("act_period")
        )
        .distinct()
    )
    j = first.join(active, user_col)
    if period == "month":
        offset = (
            (F.year("act_period") - F.year("cohort_period")) * 12
            + (F.month("act_period") - F.month("cohort_period"))
        )
    else:
        offset = F.datediff("act_period", "cohort_period")
    return (
        j.select("cohort_period", offset.alias("period_offset"), user_col)
        .groupBy("cohort_period", "period_offset")
        .agg(F.countDistinct(user_col).cast("bigint").alias("n_users"))
    )
