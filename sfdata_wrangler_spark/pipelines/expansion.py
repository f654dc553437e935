"""Schedule⨝observation expansion (SURVEY.md J1/W2/W3/W7/F9-F11;
``SFMuniDataExpander.py:322-436``).

The reference loops date-by-date, merging the day's AVL slice into the
day's schedule and weighting. Spark-first: ONE left join across all
dates (the per-date loop becomes partition parallelism), windows for
runtime/trip-id, then expansion weights per (DATE, TOD, route, dir)
cell. The AVL side is filtered/deduped before the join so the join key
is unique on the right.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.weighting import calc_weights, seed_trip_weight
from ..operators.windows import dedup_by_order, observed_runtime

JOIN_KEYS = ["DATE", "AGENCY_ID", "ROUTE_SHORT_NAME", "DIR", "TRIP", "SEQ"]


def clean_avl(avl: DataFrame) -> DataFrame:
    """Reference cleaning filters (P2-P5, ``SFMuniDataHelper.py:
    443-524``): revenue service only, QC bounds, dedup on the
    composite key with pinned ordering."""
    filtered = (
        avl.na.drop(subset=["SEQ", "DIR"])
        .where(F.col("DIR") < 2)
        .where(F.col("QC201") <= 20)
        .where(F.col("ROUTE_AVL") > 0)
        .where(F.col("STOP_AVL") < 9999)
        .where(F.col("TRIP") < 9999)
    )
    return dedup_by_order(
        filtered,
        ["DATE", "ROUTE_AVL", "DIR", "TRIP", "SEQ"],
        [F.col("ARRIVAL_TIME").asc_nulls_last(), F.col("VEHNO").asc()],
    )


def expand_and_weight(
    gtfs_trip_stops: DataFrame,
    avl: DataFrame,
    weight_cell: list[str] | None = None,
    weight_strategy: str = "window",
) -> DataFrame:
    """GTFS LEFT JOIN AVL on the trip-stop key, derived metrics, then
    TRIP_WEIGHT/TOD_WEIGHT expansion (``SFMuniDataExpander.py:
    481-619``). Input AVL must already be cleaned (``clean_avl``).

    ``weight_strategy="agg"`` switches the expansion-weight step to the
    skew-immune aggregate+broadcast form (see ``calc_weights``): use it
    when one route/cell dominates the feed (SURVEY §4 trunk routes) —
    the window form puts the whole hot cell on one task and AQE cannot
    split window partitions. ``weight_strategy="auto"`` (VERDICT r12
    ask #2) lets ``calc_weights`` run its dimension-sized pre-flight
    and pick at the session-derived knee instead."""
    weight_cell = weight_cell or ["DATE", "TOD", "AGENCY_ID",
                                  "ROUTE_SHORT_NAME", "DIR"]

    obs = avl.select(
        *JOIN_KEYS,
        F.lit(1).alias("OBSERVED"),
        F.col("ARRIVAL_TIME").alias("ARRIVAL_TIME_AVL"),
        F.col("DEPARTURE_TIME").alias("DEPARTURE_TIME_AVL"),
        F.col("ON"),
        F.col("OFF"),
        F.col("LOAD_DEP"),
        F.col("SERVMILES").alias("SERVMILES_AVL"),
    )
    joined = gtfs_trip_stops.join(obs, JOIN_KEYS, "left").withColumn(
        "OBSERVED", F.coalesce(F.col("OBSERVED"), F.lit(0))
    )

    # W2 observed runtime + W9 load identity + F11 derived metrics
    joined = observed_runtime(
        joined,
        "ARRIVAL_TIME_AVL",
        "DEPARTURE_TIME_AVL",
        ["DATE", "AGENCY_ID", "ROUTE_SHORT_NAME", "DIR", "TRIP"],
        ["SEQ"],
    ).withColumn(
        "LOAD_ARR",
        F.col("LOAD_DEP") - F.col("ON") + F.col("OFF"),
    )

    # trip-level weights: a trip is observed if ANY stop matched;
    # weight cells expand observed trips to the scheduled total
    wtrip = Window.partitionBy(
        "DATE", "AGENCY_ID", "ROUTE_SHORT_NAME", "DIR", "TRIP"
    )
    joined = joined.withColumn(
        "TRIP_OBSERVED", F.max("OBSERVED").over(wtrip)
    )
    seeded = joined.withColumn(
        "TRIP_WEIGHT",
        F.when(F.col("TRIP_OBSERVED") == 1, F.lit(1.0)),
    ).withColumn("TRIP_STOPS", F.lit(1.0))
    return calc_weights(
        seeded, weight_cell, "TRIP_WEIGHT", "TRIP_STOPS", "TOD_WEIGHT",
        strategy=weight_strategy,
    )
