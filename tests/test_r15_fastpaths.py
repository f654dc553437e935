"""Focused tests pinning the r15 optimizations.

- pack_context_windows: the window branch runs off an explicit
  coalescible column repartition (REPARTITION_BY_COL) while the
  offsets branch keeps its map-side partial aggregation (guide §2.3)
  — and the output is bit-equal to the r14 two-ENSURE_REQUIREMENTS
  construction.
- pipe_curation_v3: the second lazy lineage cut at langd keeps the
  bigram-LM subtree out of the SQL plan's replayed branches — the
  r14 plan printed the LM aggregation pipeline (arrays_zip explode)
  four times below the tail's branch points; the cut plan contains
  zero (plans/r15/pipe_curation_v3_{before,after}.txt in git commit
  bbd9b9e: 1674 → 248 lines, Exchange 114 → 18).
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def packed_input(spark):
    rows = [(i, (i * 7) % 23 + 1) for i in range(500)]
    # a hole in the id space + a giant doc, to exercise bucket edges
    rows += [(1000, 400), (1001, 1)]
    return spark.createDataFrame(rows, "doc_id bigint, n_tokens bigint")


def test_pack_windows_equals_unshared_construction(packed_input):
    from sfdata_wrangler_spark.operators.packing import pack_context_windows

    got = pack_context_windows(packed_input, budget=64, bucket_width=50)

    # the r14 construction: both levels planned from the un-repartitioned
    # stream (planner inserts ENSURE_REQUIREMENTS exchanges)
    docs = packed_input.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.floor(F.col("doc_id") / 50).cast("bigint").alias("__bkt"),
    )
    wb = Window.orderBy("__bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = (
        docs.groupBy("__bkt")
        .agg(F.sum("n_tokens").alias("__sub"))
        .withColumn("__cum", F.sum("__sub").over(wb))
        .select("__bkt", (F.col("__cum") - F.col("__sub")).alias("__offset"))
    )
    wd = (
        Window.partitionBy("__bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    before = F.col("__offset") + F.sum("n_tokens").over(wd) - F.col("n_tokens")
    want = docs.join(F.broadcast(offsets), "__bkt").select(
        "doc_id",
        "n_tokens",
        F.floor(before / 64).cast("bigint").alias("window_id"),
        (before % 64).cast("bigint").alias("window_offset"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_pack_windows_window_branch_repartitioned_offsets_combinable(spark):
    from sfdata_wrangler_spark.plans import QUERIES

    plan = (
        QUERIES["txt_pack_windows"]["fn"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # window branch: explicit coalescible repartition
    assert "REPARTITION_BY_COL" in plan, plan
    # offsets branch: map-side combine survives (partial_sum below its
    # own exchange) — the property that keeps the offsets pass cheap
    # when buckets are plentiful at corpus scale
    assert "partial_sum" in plan, plan


def test_v3_tail_plan_has_no_replayed_lm_subtree(spark):
    from sfdata_wrangler_spark.plans import QUERIES

    plan = (
        QUERIES["pipe_curation_v3"]["fn"](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the LM bigram explode (arrays_zip) lives entirely behind the
    # langd lineage cut; before r15 the tail's three branch points
    # replayed it four times in this plan
    assert "arrays_zip" not in plan, "LM subtree leaked above the langd cut"
    # the tail itself stays small: sampling agg + packer (agg, window,
    # repartition) + final rollup — a replay regression would blow
    # this up by the LM pipeline's ~25 exchanges per copy
    n_exchange = plan.count("Exchange")
    assert n_exchange <= 24, f"{n_exchange} Exchange nodes in v3 tail"
