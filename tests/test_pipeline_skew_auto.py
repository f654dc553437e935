"""VERDICT r12 asks #2/#7: the domain pipelines' skew knob.

- clipper/taxi grow ``strategy="bucketed"`` twins (no window ever
  partitions on the bare card/cab) that must be value-identical to
  the plain forms;
- ``strategy="auto"`` runs the dimension-sized pre-flight, picks at
  the knee, and logs the decision;
- the knee default is now derived from the session
  (``skew.default_knee_rows``) with 1M @ local[32] as the calibration
  point.
"""

import datetime as dt
import logging
import math
import random

import pytest
from pyspark.sql import functions as F

from sfdata_wrangler_spark.operators.skew import default_knee_rows
from sfdata_wrangler_spark.pipelines.clipper import infer_linked_trips
from sfdata_wrangler_spark.pipelines.taxi import identify_gps_trips

T0 = dt.datetime(2013, 3, 1, 5, 0, 0)


def _clipper_fixture(spark, n_cards=6, hot_card_tags=120, seed=7):
    """Tags spanning several days; one hot card; gaps straddling the
    90-minute transfer threshold INCLUDING exactly 90 minutes; carry
    columns with nulls. seq is assigned in tag order per card — the
    documented bucketed-form data contract."""
    rng = random.Random(seed)
    rows = []
    agencies = ["Muni", "BART", None, "Caltrain"]
    for card in range(n_cards):
        n = hot_card_tags if card == 0 else rng.randint(3, 25)
        t = T0 + dt.timedelta(minutes=rng.randint(0, 600))
        for seq in range(n):
            rows.append(
                (
                    f"card-{card}",
                    t,
                    seq,
                    rng.choice(agencies),
                    str(rng.randint(1, 20)),
                )
            )
            gap = rng.choice([5, 30, 89, 90, 91, 200, 1500])
            t = t + dt.timedelta(minutes=gap)
    return spark.createDataFrame(
        rows,
        "ClipperCardID string, TagOnTime timestamp, TripSequenceID int,"
        " AgencyName string, RouteName string",
    )


def _sorted_rows(df, key_cols):
    cols = df.columns
    return sorted(
        (tuple(r[c] for c in cols) for r in df.collect()),
        key=lambda t: tuple(
            (v is None, v) for v in (t[cols.index(k)] for k in key_cols)
        ),
    )


@pytest.mark.parametrize("seed", [7, 23, 101])
def test_clipper_bucketed_equals_plain(spark, seed):
    tags = _clipper_fixture(spark, seed=seed)
    plain = infer_linked_trips(tags)
    # tiny bucket (3h) so many buckets + cross-bucket carries exercise
    bucketed = infer_linked_trips(
        tags, strategy="bucketed", bucket_minutes=180.0
    )
    assert plain.columns == bucketed.columns
    key = ["ClipperCardID", "TripSequenceID"]
    assert _sorted_rows(plain, key) == _sorted_rows(bucketed, key)


def test_clipper_auto_picks_and_logs(spark, caplog):
    tags = _clipper_fixture(spark)
    with caplog.at_level(
        logging.INFO, logger="sfdata_wrangler_spark.pipelines.clipper"
    ):
        hot = infer_linked_trips(
            tags, strategy="auto", knee_rows=50, bucket_minutes=180.0
        )
        cold = infer_linked_trips(tags, strategy="auto", knee_rows=10**9)
    picks = [r.message for r in caplog.records if "auto pick" in r.message]
    assert any("bucketed" in m for m in picks), picks
    assert any(": plain" in m for m in picks), picks
    plain = infer_linked_trips(tags)
    key = ["ClipperCardID", "TripSequenceID"]
    assert _sorted_rows(hot, key) == _sorted_rows(plain, key)
    assert _sorted_rows(cold, key) == _sorted_rows(plain, key)


def _taxi_fixture(spark, n_cabs=4, hot_cab_pings=150, seed=11):
    """Whole-second pings (exact float sums) with status flips, >300s
    gaps, >7500ft jumps, and LONG stationary runs that span the small
    test bucket — the cross-bucket run-state carry the bucketed twin
    must get right. Distances are far from the 500ft trip filter."""
    rng = random.Random(seed)
    rows = []
    for cab in range(n_cabs):
        n = hot_cab_pings if cab == 0 else rng.randint(5, 40)
        t = T0 + dt.timedelta(seconds=rng.randint(0, 3600))
        x, y = 5000.0, 8000.0
        status = "E"
        for i in range(n):
            kind = rng.random()
            if kind < 0.08:
                t += dt.timedelta(seconds=400)  # gap break
                x += 900.0
            elif kind < 0.14:
                x += 9000.0  # jump break
                t += dt.timedelta(seconds=60)
            elif kind < 0.30:
                # stationary: barely moving for 70s per ping — runs of
                # a few pings cross the 180s stationary threshold
                t += dt.timedelta(seconds=70)
                x += 3.0
            else:
                t += dt.timedelta(seconds=rng.randint(20, 60))
                x += rng.choice([800.0, 1200.0, 2000.0])
                y += rng.choice([-600.0, 600.0])
            if rng.random() < 0.1:
                status = "M" if status == "E" else "E"
            rows.append((cab, t, x, y, status))
    return spark.createDataFrame(
        rows, "cab_id int, time timestamp, x double, y double, status string"
    )


@pytest.mark.parametrize("seed", [11, 29, 97])
def test_taxi_bucketed_equals_plain(spark, seed):
    pings = _taxi_fixture(spark, seed=seed)
    plain = identify_gps_trips(pings)
    bucketed = identify_gps_trips(
        pings, strategy="bucketed", bucket_minutes=30.0
    )
    assert plain.columns == bucketed.columns
    key = ["cab_id", "time"]
    a = _sorted_rows(plain, key)
    b = _sorted_rows(bucketed, key)
    assert len(a) == len(b) and len(a) > 20
    float_ix = {
        plain.columns.index("trip_length"),
        plain.columns.index("stationary_sec"),
    }
    for ra, rb in zip(a, b):
        for i, (va, vb) in enumerate(zip(ra, rb)):
            if i in float_ix and va is not None and vb is not None:
                # float accumulation ORDER differs between the forms —
                # equal within ulps (whole-second fixture makes
                # stationary_sec exact; trip_length sums sqrt values)
                assert math.isclose(va, vb, rel_tol=1e-9), (i, ra, rb)
            else:
                assert va == vb, (i, ra, rb)


def test_taxi_auto_picks_and_logs(spark, caplog):
    pings = _taxi_fixture(spark)
    with caplog.at_level(
        logging.INFO, logger="sfdata_wrangler_spark.pipelines.taxi"
    ):
        hot = identify_gps_trips(
            pings, strategy="auto", knee_rows=60, bucket_minutes=30.0
        )
        cold = identify_gps_trips(pings, strategy="auto", knee_rows=10**9)
    picks = [r.message for r in caplog.records if "auto pick" in r.message]
    assert any("bucketed" in m for m in picks), picks
    assert any(": plain" in m for m in picks), picks
    assert hot.count() == cold.count() == identify_gps_trips(pings).count()


def test_strategy_rejects_unknown(spark):
    tags = _clipper_fixture(spark, n_cards=1, hot_card_tags=3)
    with pytest.raises(ValueError, match="strategy"):
        infer_linked_trips(tags, strategy="bogus").collect()
    pings = _taxi_fixture(spark, n_cabs=1, hot_cab_pings=3)
    with pytest.raises(ValueError, match="strategy"):
        identify_gps_trips(pings, strategy="bogus").collect()


def test_default_knee_rows_derivation(spark):
    """125k rows/task x (P // 4) tasks; local[32]'s P=32 reproduces
    the measured 1M calibration point exactly; overrides compose."""
    p = spark.sparkContext.defaultParallelism
    assert default_knee_rows(spark) == 125_000 * max(1, p // 4)
    assert default_knee_rows(spark, hot_entity_tasks=8) == 1_000_000
    assert default_knee_rows(spark, rows_per_task=1000, hot_entity_tasks=2) == 2000
    # the session-derived default now flows through the auto picks
    from sfdata_wrangler_spark.operators.weighting import (
        choose_weight_strategy,
    )
    from sfdata_wrangler_spark.operators.windows import (
        choose_sessionize_strategy,
    )

    tiny = spark.createDataFrame([(1, 1.0)], "card string, v double")
    assert choose_weight_strategy(tiny, ["card"]) == "window"
    assert choose_sessionize_strategy(tiny, ["card"]) == "plain"


HOT_REPLICA = "/tmp/sfdata_sf100_hotuser"


@pytest.mark.skipif(
    not __import__("os").path.isdir(HOT_REPLICA),
    reason="committed hot-user replica not materialized on this box "
    "(tools/make_scale_replica.py --hot-user-frac 0.4)",
)
def test_auto_pick_on_committed_hot_replica(spark):
    """The default (session-derived) knees land the MEASURED-right
    picks on the committed hot-user replica (user 777 = 4,000,047
    rows): the bare sessionize operator picks bucketed (1M knee —
    r11/r12 measured bucketed 4.15s vs plain 5.34s there), while the
    FULL clipper/taxi pipelines pick plain (8x knee = 8M —
    tools/pipeline_skew_probe.py measured their heavier twins at
    ~23s vs plain 13-14s at this hot size; the crossover is ~8M).
    Fixture-level tests above pin output equality; ARCHITECTURE pins
    the wall-clock story."""
    from sfdata_wrangler_spark.operators.skew import (
        PIPELINE_KNEE_FACTOR,
        default_knee_rows,
        max_partition_rows,
    )
    from sfdata_wrangler_spark.operators.windows import (
        choose_sessionize_strategy,
    )
    from sfdata_wrangler_spark.plans.catalog import _events

    ev = _events(spark, HOT_REPLICA).select("user_id")
    assert choose_sessionize_strategy(ev, ["user_id"]) == "bucketed"
    hot = max_partition_rows(ev, ["user_id"])
    # the knees AT THE local[32] CALIBRATION POINT (the test session
    # is local[4], whose smaller knees would pick bucketed for both —
    # also correct for 4 slots, but not what the probe measured):
    # bare operator 1M, full pipeline 8M
    knee32 = default_knee_rows(spark, hot_entity_tasks=8)
    assert knee32 == 1_000_000
    assert hot > knee32  # bare-operator pick at local[32]: bucketed
    assert hot <= knee32 * PIPELINE_KNEE_FACTOR  # pipeline: plain


def test_auto_falls_back_to_plain_on_null_timestamps(spark, caplog):
    """ADVICE r13 #1: the bucketed twins require non-null timestamps
    (nulls would land in a nulls-first bucket and change
    TIMEDIFF/TRANSFER/trip segmentation vs plain). auto must detect
    nulls in its pre-flight and stay plain EVEN past the knee, for
    both domain pipelines; explicit strategy='bucketed' remains the
    caller's loud assertion."""
    tags = _clipper_fixture(spark).withColumn(
        "TagOnTime",
        F.when(F.col("TripSequenceID") == 2, F.lit(None)).otherwise(
            F.col("TagOnTime")
        ),
    )
    with caplog.at_level(
        logging.INFO, logger="sfdata_wrangler_spark.pipelines.clipper"
    ):
        out = infer_linked_trips(
            tags, strategy="auto", knee_rows=10, bucket_minutes=180.0
        )
    picks = [r.message for r in caplog.records if "auto pick" in r.message]
    assert picks and all("plain" in m and "null" in m for m in picks), picks
    plain = infer_linked_trips(tags)
    key = ["ClipperCardID", "TripSequenceID"]
    assert _sorted_rows(out, key) == _sorted_rows(plain, key)

    pings = _taxi_fixture(spark)
    pings = pings.withColumn(
        "time",
        F.when(F.rand(5) < 0.01, F.lit(None)).otherwise(F.col("time")),
    )
    caplog.clear()
    with caplog.at_level(
        logging.INFO, logger="sfdata_wrangler_spark.pipelines.taxi"
    ):
        out2 = identify_gps_trips(pings, strategy="auto", knee_rows=10)
    picks = [r.message for r in caplog.records if "auto pick" in r.message]
    assert picks and all("plain" in m and "null" in m for m in picks), picks
    assert out2.count() == identify_gps_trips(pings).count()
