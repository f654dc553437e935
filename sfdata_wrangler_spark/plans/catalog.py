"""Query catalog: the engine's declared operator surface.

One entry per operator family from SURVEY.md §2 (names carry the
survey ids: j2_, w4_, f5_, ...), each with an idiomatic-Spark
implementation built from the operator library and — where
SQL-expressible — an equivalent DuckDB oracle query. The driver
hash-compares both at sf=0.01 (see __spark_entry__.py).

Cross-engine determinism rules used throughout:
- every window/first/last/dedup has a TOTAL ordering (ties broken by a
  unique key) — distributed execution has no ambient row order;
- double aggregates whose value depends on accumulation order are
  rounded (2dp money, 4dp ratios); per-row float arithmetic is left
  exact (IEEE ops are bitwise-identical across engines);
- integer aggregates are CAST to BIGINT on the oracle side (DuckDB
  sums to HUGEINT);
- timestamps → epoch microseconds (Spark ``unix_micros`` ≡ DuckDB
  ``epoch_us``) before arithmetic.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.datetime_fns import dow_class, service_date_rollover, tod_period
from ..functions.metrics import portable_round as _pr
from ..functions.metrics import sql_portable_round
from ..operators.aggregate import AggRule, aggregate_records
from ..operators.crosstab import crosstab_with_margins
from ..operators.imputation import impute_from_prior_month
from ..operators.weighting import calc_weights
from ..operators.windows import (
    dedup_by_order,
    ffill,
    interpolate_monthly,
    sessionize,
    sessionize_bucketed,
)

# registry: name -> {"fn": callable(spark, sf_dir) -> DataFrame,
#                    "oracle": SQL str | None, "bench": bool}
QUERIES: dict[str, dict] = {}


def _register(name: str, oracle: str | None, bench: bool = False):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            # a silent overwrite would let a later catalog module
            # shadow a name that was driver-verified under a
            # different body — exactly how a regression hides
            raise ValueError(f"duplicate query registration: {name!r}")
        QUERIES[name] = {
            "fn": fn,
            "oracle": sql_portable_round(oracle) if oracle else None,
            "bench": bench,
        }
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _msum2(expr):
    """Exact 2-decimal rounding of a sum whose addends have <= 4
    decimal digits (money x discount products). Plain float rounding
    of such sums is knife-edged: the TRUE sum often lands exactly on a
    half-cent boundary, and cross-engine ulp differences in the
    accumulation flip floor/round either way. Summing integer
    ten-thousandths instead is exact in both engines."""
    tt = F.floor(expr * 10000 + 0.5).cast("long")
    return F.floor((F.sum(tt) + 50) / 100.0) / 100.0


def _msum2_sql(expr: str) -> str:
    return (
        f"(floor((sum(CAST(floor(({expr}) * 10000 + 0.5) AS BIGINT)) + 50)"
        " / 100.0) / 100.0)"
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with ``ts`` as a proper TimestampType.

    The driver's generator has shipped ``ts`` under two parquet
    encodings across rounds: TIMESTAMP(NANOS) (which Spark's
    vectorized reader rejects — read as raw int64 nanos via
    ``spark.sql.legacy.parquet.nanosAsLong`` and truncate) and
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark reads as
    TIMESTAMP_NTZ — rejected by ``unix_micros`` and every other
    epoch-arithmetic function). Normalize both to TIMESTAMP: the
    session timezone is pinned to UTC, so the NTZ→LTZ cast is
    value-preserving and epoch-microsecond arithmetic agrees with
    DuckDB's naive-timestamp reading of the same file.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The NTZ→LTZ cast (and epoch arithmetic downstream) reads the
    # session timezone; the driver runs a vanilla session, so pin UTC
    # here rather than relying on our get_spark having done it.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# The driver caps its per-round sweep at the first 50 entries of
# ``queries()``, so ordering is the only lever for which declared
# queries get a driver-verified row each round: push names without a
# green row in ANY committed CORRECTNESS_r*.json (plus anything newly
# registered) to the front; already-green names rotate by STALENESS —
# greens whose implementing files changed after their last sweep come
# first, then oldest-sweep-first. Reading the committed driver reports
# (and the committed SWEEP_FRESHNESS.json manifest, regenerated by
# tools/update_sweep_freshness.py) keeps the rotation automatic — no
# per-round hand-maintained name set.
_GREEN_ROUNDS_CACHE: dict[str, int] | None = None


def _repo_root() -> str:
    import os

    return os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )


def driver_green_rounds() -> dict[str, int]:
    """Map of name -> LATEST round with a green driver row for it:
    hash-exact for oracle-backed queries, a recorded row count for
    declared-no-oracle ones (re-sweeping those can't upgrade them)."""
    global _GREEN_ROUNDS_CACHE
    if _GREEN_ROUNDS_CACHE is not None:
        return _GREEN_ROUNDS_CACHE
    import glob
    import json
    import os
    import re

    green: dict[str, int] = {}
    for path in sorted(
        glob.glob(os.path.join(_repo_root(), "CORRECTNESS_r*.json"))
    ):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            if row.get("err") == "no_oracle":
                # a rows-only row is only terminal while the query
                # still declares no oracle; once an oracle lands the
                # query must rotate back in for a real hash check
                if row.get("spark_rows") is not None and not QUERIES.get(
                    name, {}
                ).get("oracle"):
                    green[name] = max(green.get(name, 0), rnd)
            elif (
                row.get("err") is None
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                green[name] = max(green.get(name, 0), rnd)
    _GREEN_ROUNDS_CACHE = green
    return green


def driver_green() -> set[str]:
    """Names with a green row in any committed CORRECTNESS_r*.json."""
    return set(driver_green_rounds())


# --- staleness: which package files implement each query ------------- #
# Query callables import their operators lazily inside the function
# body, so runtime module globals don't expose the dependency graph.
# Instead, statically AST-scan each catalog/operator file for package
# imports and take the transitive closure: a query's implementing
# files = everything reachable from its defining module. Coarse
# (file-, not symbol-grained) but exactly the right direction of
# error: a changed dependency can only rotate a query FORWARD for an
# extra re-verification.
_IMPORT_CLOSURE_CACHE: dict[str, frozenset[str]] = {}
_PKG = __name__.split(".")[0]  # sfdata_wrangler_spark


def _dotted_to_relpath(dotted: str) -> str | None:
    import os

    base = dotted.replace(".", "/")
    for cand in (f"{base}.py", f"{base}/__init__.py"):
        if os.path.exists(os.path.join(_repo_root(), cand)):
            return cand
    return None


def _direct_imports(relpath: str) -> set[str]:
    """Package-internal relpaths directly imported by ``relpath``
    (module-level AND nested imports — ast.walk sees both)."""
    import ast
    import os

    try:
        with open(os.path.join(_repo_root(), relpath)) as fh:
            tree = ast.parse(fh.read())
    except (OSError, SyntaxError):
        return set()
    # dotted module name of this file, e.g. a/b.py -> a.b; a/b/__init__.py -> a.b
    parts = relpath[: -len(".py")].split("/")
    is_pkg_init = parts[-1] == "__init__"
    if is_pkg_init:
        parts = parts[:-1]
    out: set[str] = set()

    def _add(dotted: str) -> None:
        p = _dotted_to_relpath(dotted)
        if p is not None:
            out.add(p)

    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == _PKG:
                    _add(alias.name)
        elif isinstance(node, ast.ImportFrom):
            if node.level == 0:
                if node.module and node.module.split(".")[0] == _PKG:
                    _add(node.module)
                    # `from pkg.sub import mod` may name a SUBMODULE,
                    # not a symbol — missing it would leave that
                    # file's edits invisible to staleness (the one
                    # direction of error this module must not have)
                    for alias in node.names:
                        _add(f"{node.module}.{alias.name}")
                continue
            # relative: climb (level) packages from the module's own
            # package (__init__.py counts as the package itself)
            up = node.level if not is_pkg_init else node.level - 1
            base = parts[: len(parts) - up] if up else list(parts)
            if not base or base[0] != _PKG:
                continue
            if node.module:
                _add(".".join(base + node.module.split(".")))
                for alias in node.names:  # submodule aliases too
                    _add(".".join(base + node.module.split(".") + [alias.name]))
            else:  # from . import x  -> each alias is a submodule
                for alias in node.names:
                    _add(".".join(base + [alias.name]))
    return out


def _import_closure(relpath: str) -> frozenset[str]:
    cached = _IMPORT_CLOSURE_CACHE.get(relpath)
    if cached is not None:
        return cached
    seen: set[str] = {relpath}
    frontier = [relpath]
    while frontier:
        nxt = _direct_imports(frontier.pop())
        for p in nxt:
            if p not in seen:
                seen.add(p)
                frontier.append(p)
    closure = frozenset(seen)
    _IMPORT_CLOSURE_CACHE[relpath] = closure
    return closure


def _load_freshness() -> dict | None:
    """Committed SWEEP_FRESHNESS.json: ``files`` maps package relpath
    -> last-commit unix time; ``reports`` maps CORRECTNESS_r*.json ->
    its commit time. Regenerated by tools/update_sweep_freshness.py;
    absent or unreadable -> staleness falls back to sweep-round age."""
    import json
    import os

    path = os.path.join(_repo_root(), "SWEEP_FRESHNESS.json")
    try:
        with open(path) as fh:
            data = json.load(fh)
    except (OSError, ValueError):
        return None
    if not isinstance(data, dict) or "files" not in data:
        return None
    return data


def _impl_changed_since(name: str, last_round: int, fresh: dict) -> bool:
    fn = QUERIES[name]["fn"]
    mod = getattr(fn, "__module__", None)
    if not mod:
        return False
    relpath = _dotted_to_relpath(mod)
    if relpath is None:
        return False
    report_ts = fresh.get("reports", {}).get(
        f"CORRECTNESS_r{last_round:02d}.json"
    )
    if report_ts is None:
        return False
    files = fresh.get("files", {})
    impl_ts = max(
        (files.get(p, 0) for p in _import_closure(relpath)), default=0
    )
    return impl_ts > report_ts


def sweep_order() -> list[str]:
    """Declared names: never-driver-swept first (registration order),
    then greens by staleness — implementation changed since their
    last sweep first, oldest last-sweep-round first within each
    group. With zero backlog all 50 driver slots become
    re-verification, so they should go to the names whose green row
    is least likely to still reflect the code."""
    names = list(QUERIES)
    rounds = driver_green_rounds()
    idx = {n: i for i, n in enumerate(names)}
    unswept = [n for n in names if n not in rounds]
    green = [n for n in names if n in rounds]
    fresh = _load_freshness()
    if fresh is not None:
        green.sort(
            key=lambda n: (
                0 if _impl_changed_since(n, rounds[n], fresh) else 1,
                rounds[n],
                idx[n],
            )
        )
    else:
        green.sort(key=lambda n: (rounds[n], idx[n]))
    return unswept + green


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: QUERIES[name]["fn"] for name in sweep_order()}


def oracle_sql_map() -> dict[str, str]:
    return {
        name: QUERIES[name]["oracle"]
        for name in sweep_order()
        if QUERIES[name]["oracle"]
    }


def _month():
    """Month key as a formatted string (pandas-safe cross-engine type)."""
    return F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd")
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


# ---------------------------------------------------------------------------
# Flagship: the reference's core expand → weight → aggregate semantic
# (SFMuniDataExpander.py:322-436 + SFMuniDataAggregator cascade) modeled
# on orders⨝lineitem: line 1-2 of each order play the "observed APC
# sample"; expansion weights scale them up to the full schedule.
# ---------------------------------------------------------------------------

_FLAGSHIP_ORACLE = """
WITH ts AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
         o_orderpriority,
         l_extendedprice * (1 - l_discount) AS revenue,
         l_quantity,
         CASE WHEN l_linenumber <= 2 THEN 1 ELSE 0 END AS observed
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), w AS (
  SELECT *,
         (CASE WHEN observed = 1 THEN 1.0 END)
           * (sum(1.0) OVER cell
              / sum((CASE WHEN observed = 1 THEN 1.0 END) * 1.0) OVER cell)
           AS weight
  FROM ts
  WINDOW cell AS (PARTITION BY month, o_orderpriority)
)
SELECT month, o_orderpriority,
       CAST(round((sum(CAST(floor(CASE WHEN observed = 1 THEN revenue END * 10000 + 0.5) AS BIGINT)) / 10000.0) * max(weight), 2) AS DOUBLE) AS est_revenue,
       CAST(round(sum(l_quantity * weight)
            / sum(CASE WHEN l_quantity IS NOT NULL THEN weight END), 4) AS DOUBLE)
         AS avg_qty,
       CAST(sum(observed) AS BIGINT) AS obs_rows,
       CAST(count(*) AS BIGINT) AS n_rows
FROM w GROUP BY month, o_orderpriority
"""


@_register("flagship_expand_weight_cascade", _FLAGSHIP_ORACLE, bench=True)
def flagship_expand_weight_cascade(
    spark: SparkSession, sf_dir: str, weight_strategy: str = "window"
) -> DataFrame:
    """J1 expand join + W7 expansion weighting + §2.4 weighted cascade.

    ``weight_strategy="agg"`` runs the skew-immune expansion-weight
    form (registered separately as ``flagship_skew_safe_weights``);
    both produce bitwise-identical results here because the weighting
    addends are exactly-representable 1.0 seeds."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    ts = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .withColumn("month", _month())
        .withColumn(
            "revenue", F.col("l_extendedprice") * (1 - F.col("l_discount"))
        )
        .withColumn(
            "observed", F.when(F.col("l_linenumber") <= 2, 1).otherwise(0)
        )
        .withColumn("trip_weight", F.when(F.col("observed") == 1, F.lit(1.0)))
        .withColumn("trip_stops", F.lit(1.0))
    )
    weighted = calc_weights(
        ts, ["month", "o_orderpriority"], "trip_weight", "trip_stops",
        "weight", strategy=weight_strategy,
    )
    # est_revenue = (exact integer sum of observed revenue) x the
    # cell's constant expansion factor: a single arithmetic path, so
    # the double is bitwise-identical across engines (an
    # order-dependent sum(revenue*weight) lands on half-cent rounding
    # boundaries whenever the factor is dyadic, e.g. 7/2).
    obs_rev_tt = F.floor(
        F.when(F.col("observed") == 1, F.col("revenue")) * 10000 + 0.5
    ).cast("long")
    weighted = weighted.withColumn("__rev_tt", obs_rev_tt)
    agg = aggregate_records(
        weighted,
        ["month", "o_orderpriority"],
        [
            AggRule("avg_qty", "l_quantity", "wgtAvg"),
            AggRule("obs_rows", "observed", "sum", dtype="bigint"),
            AggRule("n_rows", "observed", "count", dtype="bigint"),
            AggRule("__rev_tt_sum", "__rev_tt", "sum"),
            AggRule("__factor", "weight", "max"),
        ],
        weight="weight",
    ).withColumn(
        "est_revenue",
        (F.col("__rev_tt_sum") / 10000.0) * F.col("__factor"),
    )
    return agg.select(
        "month",
        "o_orderpriority",
        _pr("est_revenue", 2).alias("est_revenue"),
        _pr("avg_qty", 4).alias("avg_qty"),
        "obs_rows",
        "n_rows",
    )


@_register("flagship_skew_safe_weights", _FLAGSHIP_ORACLE)
def flagship_skew_safe_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship with the skew-immune expansion weighting
    (``calc_weights(strategy="agg")``): per-cell sums as map-side-
    combinable aggregations + a broadcast factor join-back, instead of
    a window that puts a hot trunk-route cell on one task (SURVEY §4).
    Same oracle as the flagship — the weighting addends are exact 1.0
    seeds, so the two strategies are bitwise-identical."""
    return flagship_expand_weight_cascade(spark, sf_dir, weight_strategy="agg")


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------


@_register(
    "a0_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
           CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_base_price,
           CAST((floor((sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 10000 + 0.5) AS BIGINT)) + 50) / 100.0) / 100.0) AS DOUBLE) AS sum_disc_price,
           CAST(round(avg(l_quantity), 4) AS DOUBLE) AS avg_qty,
           CAST(round(avg(l_extendedprice), 4) AS DOUBLE) AS avg_price,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    bench=True,
)
def a0_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan + filter pushdown + one-shuffle agg."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _pr(F.sum("l_quantity"), 2).alias("sum_qty"),
        _pr(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        _msum2(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "sum_disc_price"
        ),
        _pr(F.avg("l_quantity"), 4).alias("avg_qty"),
        _pr(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


@_register(
    "a1_rule_driven_agg_engine",
    f"""
    SELECT l_returnflag,
           CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_base,
           CAST((floor((sum(CAST(floor((l_extendedprice * l_quantity) * 10000 + 0.5) AS BIGINT)) + 50) / 100.0) / 100.0) AS DOUBLE) AS wgt_price,
           CAST(round(sum(l_discount * l_quantity)
                / sum(CASE WHEN l_discount IS NOT NULL THEN l_quantity END), 6)
                AS DOUBLE) AS wgt_avg_disc,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(CASE WHEN l_tax <> 0 THEN 1 END) AS BIGINT) AS n_taxed,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(l_quantity) AS DOUBLE) AS min_qty,
           CAST(max(l_quantity) AS DOUBLE) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a1_rule_driven_agg_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.4 rule-table engine: wgtSum/wgtAvg/countUnique/countNonZero
    compile to one groupBy (SFMuniDataAggregator.py:1018-1214 parity)."""
    li = _t(spark, sf_dir, "lineitem")
    li = li.withColumn(
        "__pq", F.col("l_extendedprice") * F.col("l_quantity")
    )
    agg = aggregate_records(
        li,
        ["l_returnflag"],
        [
            AggRule("sum_base", "l_extendedprice", "sum"),
            AggRule("wgt_price", "l_extendedprice", "wgtSum"),
            AggRule("wgt_avg_disc", "l_discount", "wgtAvg"),
            AggRule("n_parts", "l_partkey", "countUnique", dtype="bigint"),
            AggRule("n_taxed", "l_tax", "countNonZero", dtype="bigint"),
            AggRule("n_rows", "l_quantity", "count", dtype="bigint"),
            AggRule("min_qty", "l_quantity", "min", dtype="double"),
            AggRule("max_qty", "l_quantity", "max", dtype="double"),
        ],
        weight="l_quantity",
    )
    exact_wgt = li.groupBy("l_returnflag").agg(
        _msum2(F.col("__pq")).alias("wgt_price_exact")
    )
    agg = agg.join(exact_wgt, "l_returnflag")
    return agg.select(
        "l_returnflag",
        _pr("sum_base", 2).alias("sum_base"),
        F.col("wgt_price_exact").alias("wgt_price"),
        _pr("wgt_avg_disc", 6).alias("wgt_avg_disc"),
        "n_parts",
        "n_taxed",
        "n_rows",
        "min_qty",
        "max_qty",
    )


@_register(
    "a2_first_last_by_order",
    """
    WITH ranked AS (
      SELECT o_custkey, o_totalprice, o_orderpriority,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn_a,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_d
      FROM orders
    )
    SELECT o_custkey,
           max(CASE WHEN rn_a = 1 THEN o_totalprice END) AS first_price,
           max(CASE WHEN rn_d = 1 THEN o_orderpriority END) AS last_priority,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM ranked GROUP BY o_custkey
    """,
)
def a2_first_last_by_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'first'/'last' agg rules: pandas depends on prior
    sort order; here min_by/max_by over an explicit ordering struct."""
    orders = _t(spark, sf_dir, "orders")
    return aggregate_records(
        orders,
        ["o_custkey"],
        [
            AggRule("first_price", "o_totalprice", "first"),
            AggRule("last_priority", "o_orderpriority", "last"),
            AggRule("n_orders", "o_orderkey", "count", dtype="bigint"),
        ],
        order_by=["o_orderdate", "o_orderkey"],
    )


@_register(
    "a6_crosstab_margins",
    """
    WITH body AS (
      SELECT o_orderstatus,
             {cells},
             sum(o_totalprice) AS "Total"
      FROM orders GROUP BY o_orderstatus
      UNION ALL
      SELECT 'Total',
             {cells},
             sum(o_totalprice) AS "Total"
      FROM orders
    )
    SELECT o_orderstatus,
           {rounded}
    FROM body
    """.format(
        cells=", ".join(
            f"sum(CASE WHEN o_orderpriority = '{p}' THEN o_totalprice ELSE 0 END) AS \"{p}\""
            for p in PRIORITIES
        ),
        rounded=", ".join(
            f'CAST(round("{c}", 2) AS DOUBLE) AS "{c}"'
            for c in PRIORITIES + ["Total"]
        ),
    ),
)
def a6_crosstab_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cleanCrosstab with margins (Utils.py:23-46): pivot with explicit
    value domain + totals row/column, empty cells 0 not null."""
    orders = _t(spark, sf_dir, "orders")
    ct = crosstab_with_margins(
        orders, "o_orderstatus", "o_orderpriority", "o_totalprice", PRIORITIES
    )
    return ct.select(
        "o_orderstatus",
        *[_pr(F.col(c), 2).alias(c) for c in PRIORITIES + ["Total"]],
    )


@_register(
    "a7_pivot_matrix",
    """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
           {cells}
    FROM orders GROUP BY 1
    """.format(
        cells=", ".join(
            f"CAST(sum(CASE WHEN o_orderpriority = '{p}' THEN 1 ELSE 0 END) AS BIGINT) AS \"{p}\""
            for p in PRIORITIES
        )
    ),
)
def a7_pivot_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route×month matrix shape (TransitReporter.py:283-285): pivot with
    an explicit value list (no discovery scan)."""
    orders = _t(spark, sf_dir, "orders")
    out = (
        orders.withColumn("month", _month())
        .groupBy("month")
        .pivot("o_orderpriority", PRIORITIES)
        .count()
        .na.fill(0)
    )
    return out.select(
        "month", *[F.col(p).cast("bigint").alias(p) for p in PRIORITIES]
    )


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


@_register(
    "j1_observed_left_join",
    """
    WITH li AS (
      SELECT l_orderkey,
             CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS revenue,
             CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o_orderstatus,
           CAST(sum(CASE WHEN n_items IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS observed,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(coalesce(revenue, 0)), 2) AS DOUBLE) AS revenue
    FROM orders LEFT JOIN li ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    """,
    bench=True,
)
def j1_observed_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GTFS⨝AVL 'expand' shape (SFMuniDataExpander.py:481-534):
    schedule LEFT JOIN observations + OBSERVED flag."""
    orders = _t(spark, sf_dir, "orders")
    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            _pr(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    joined = orders.join(li, orders.o_orderkey == li.l_orderkey, "left")
    return joined.groupBy("o_orderstatus").agg(
        F.sum(F.when(F.col("n_items").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("observed"),
        F.count(F.lit(1)).alias("n_orders"),
        _pr(F.sum(F.coalesce(F.col("revenue"), F.lit(0.0))), 2).alias(
            "revenue"
        ),
    )


@_register(
    "j2_interval_join",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_in_window,
           CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders
      ON l_orderkey = o_orderkey
     AND l_shipdate > o_orderdate
     AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
    GROUP BY o_orderpriority
    """,
    bench=True,
)
def j2_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-interval join (route-equiv lookup shape,
    SFMuniDataHelper.py:587): equi key + validity-range predicate."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cond = (
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > orders.o_orderdate)
        & (li.l_shipdate <= orders.o_orderdate + F.expr("INTERVAL 90 DAYS"))
    )
    return (
        li.join(orders, cond)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_in_window"),
            _pr(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


@_register(
    "j10_anti_join",
    """
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers_no_orders
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_orderstatus = 'P')
    GROUP BY c_mktsegment
    """,
)
def j10_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-key detection (SFMuniDataHelper.py:593-596) as left_anti:
    customers with no pending ('P') orders."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "P")
    return (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left_anti"
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers_no_orders"))
    )


@_register(
    "j10_semi_join",
    """
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers_with_urgent
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
)
def j10_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-membership filtering (SFMuniDataExpander.py:363) as left_semi."""
    customer = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        customer.join(
            urgent, customer.c_custkey == urgent.o_custkey, "left_semi"
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers_with_urgent"))
    )


@_register(
    "u1_union_distinct",
    """
    SELECT n_name, CAST(nationkey AS BIGINT) AS nationkey
    FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION
      SELECT s_nationkey FROM supplier
    ) u JOIN nation ON nationkey = n_nationkey
    """,
)
def u1_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union + distinct + broadcast dim join (U1/U2)."""
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    u = (
        customer.select(F.col("c_nationkey").alias("nationkey"))
        .unionByName(supplier.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )
    return u.join(
        F.broadcast(nation), u.nationkey == nation.n_nationkey
    ).select("n_name", F.col("nationkey").cast("bigint").alias("nationkey"))


# ---------------------------------------------------------------------------
# §2.5 windows / §2.6 order-sensitive operators
# ---------------------------------------------------------------------------


@_register(
    "w1_headway",
    """
    WITH gaps AS (
      SELECT event_type,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id)) / 60000000.0
               AS headway_min
      FROM events
    )
    SELECT event_type,
           CAST(round(avg(headway_min), 4) AS DOUBLE) AS avg_headway_min,
           CAST(count(headway_min) AS BIGINT) AS n_gaps
    FROM gaps GROUP BY event_type
    """,
)
def w1_headway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headway computation (GTFSHelper.py:87-104): lag over an ordered
    per-entity window, minutes between consecutive events."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.withColumn(
        "headway_min",
        (F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w))
        / 60000000.0,
    )
    return gaps.groupBy("event_type").agg(
        _pr(F.avg("headway_min"), 4).alias("avg_headway_min"),
        F.count("headway_min").alias("n_gaps"),
    )


_SESSION_ORACLE_BODY = """
    WITH gaps AS (
      SELECT user_id, event_id, ts, value,
             (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 60000000.0 AS gap_min
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, event_id, ts, value,
             1 + sum(CASE WHEN gap_min > 30 THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    )
"""


@_register(
    "w4_sessionize",
    _SESSION_ORACLE_BODY
    + """
    SELECT user_id,
           CAST(max(session_id) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id
    """,
    bench=True,
)
def w4_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumsum-of-breaks sessionization — the Clipper linked-trip /
    taxi trip-segmentation kernel (ClipperHelper.py:204-246,
    TaxiDataHelper.py:205-309) — 30-min gap rule over events."""
    ev = _events(spark, sf_dir)
    s = sessionize(
        ev,
        ["user_id"],
        "ts",
        gap_minutes=30.0,
        order_cols=["ts", "event_id"],
    )
    return s.groupBy("user_id").agg(
        F.max("SESSION_ID").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@_register(
    "w4c_sessionize_bucketed",
    _SESSION_ORACLE_BODY
    + """
    SELECT user_id,
           CAST(max(session_id) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id
    """,
)
def w4c_sessionize_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 sessionization in the skew-immune time-bucketed form
    (``sessionize_bucketed``): local sessionize within (user, day),
    merge corrections via an entity-level window over BUCKET summaries
    — a hot user (SURVEY §4) costs one bucket per task instead of its
    lifetime on one task. Same oracle as w4_sessionize: the two forms
    are exactly equivalent (tests/test_windows.py differentials)."""
    ev = _events(spark, sf_dir)
    s = sessionize_bucketed(
        ev,
        ["user_id"],
        "ts",
        gap_minutes=30.0,
        order_cols=["ts", "event_id"],
        bucket_minutes=1440.0,
    )
    return s.groupBy("user_id").agg(
        F.max("SESSION_ID").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@_register(
    "w6_session_stats",
    _SESSION_ORACLE_BODY
    + """
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST((max(epoch_us(ts)) - min(epoch_us(ts))) / 60000000.0 AS DOUBLE)
             AS duration_min,
           CAST(round(sum(value), 2) AS DOUBLE) AS session_value
    FROM s GROUP BY user_id, session_id
    """,
)
def w6_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session rollup (trip-level stats, TaxiDataHelper.py:312-317)."""
    ev = _events(spark, sf_dir)
    s = sessionize(
        ev, ["user_id"], "ts", gap_minutes=30.0, order_cols=["ts", "event_id"]
    )
    return s.groupBy("user_id", F.col("SESSION_ID").alias("session_id")).agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts")))
            / 60000000.0
        ).alias("duration_min"),
        _pr(F.sum("value"), 2).alias("session_value"),
    )


@_register(
    "w8_running_total",
    """
    SELECT event_id, user_id,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_value_cents
    FROM events
    """,
)
def w8_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running load recomputation (TransitReporter.py:993-1008):
    cumulative sum over an ordered per-entity window (exact integer
    cents so the result is order-of-accumulation independent)."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = _pr(F.col("value") * 100, 0).cast("bigint")
    return ev.select(
        "event_id",
        "user_id",
        F.sum(cents).over(w).cast("bigint").alias("cum_value_cents"),
    )


@_register(
    "w10_ffill",
    """
    SELECT event_id, user_id,
           last_value(CASE WHEN event_type <> 'click' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS value_filled
    FROM events
    """,
)
def w10_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (MultiModalHelper.py:151-156): clicks' values are
    nulled then forward-filled from the entity's history."""
    ev = _events(spark, sf_dir).withColumn(
        "v", F.when(F.col("event_type") != "click", F.col("value"))
    )
    filled = ffill(ev, "v", ["user_id"], ["ts", "event_id"], out="value_filled")
    return filled.select("event_id", "user_id", "value_filled")


@_register(
    "w11_interpolate_monthly",
    """
    WITH m AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
             CAST(count(*) AS DOUBLE) AS n
      FROM orders GROUP BY 1
    ), mm AS (
      SELECT month,
             CASE WHEN month(CAST(month AS DATE)) IN (3, 7) THEN NULL ELSE n END AS v,
             year(CAST(month AS DATE)) * 12 + month(CAST(month AS DATE)) AS midx
      FROM m
    ), b AS (
      SELECT month, v, midx,
             last_value(v IGNORE NULLS) OVER wb AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN midx END IGNORE NULLS)
               OVER wb AS pi,
             first_value(v IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN midx END IGNORE NULLS)
               OVER wf AS ni
      FROM mm
      WINDOW wb AS (ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (ORDER BY month ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT month,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pi IS NOT NULL AND ni IS NOT NULL
                  THEN pv + (nv - pv) * ((midx - pi) / (ni - pi))
           END AS n_filled
    FROM b
    """,
)
def w11_interpolate_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over the month spine (DemandHelper.py:
    1559-1619): March/July order counts masked, then reconstructed."""
    orders = _t(spark, sf_dir, "orders")
    m = orders.groupBy(_month().alias("month")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    masked = m.withColumn(
        "v", F.when(~F.month("month").isin(3, 7), F.col("n"))
    )
    out = interpolate_monthly(masked, "month", "v", out="n_filled")
    return out.select("month", "n_filled")


@_register(
    "w12_impute_prior_month",
    """
    WITH cells AS (
      SELECT o_orderpriority,
             strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
             CAST(count(*) AS BIGINT) AS n,
             CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS rev
      FROM orders GROUP BY 1, 2
    ), masked AS (
      SELECT o_orderpriority, month,
             CASE WHEN month(CAST(month AS DATE)) IN (3, 7) THEN 0 ELSE n END AS obs_n,
             rev
      FROM cells
    )
    SELECT o_orderpriority, month, obs_n,
           CASE WHEN obs_n > 0 THEN rev
                ELSE last_value(CASE WHEN obs_n > 0 THEN rev END IGNORE NULLS)
                  OVER w
           END AS rev,
           CASE WHEN obs_n > 0 THEN 0
                ELSE coalesce(last_value(CASE WHEN obs_n > 0 THEN obs_n END
                                         IGNORE NULLS) OVER w, 0)
           END AS imp_n
    FROM masked
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def w12_impute_prior_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prior-month imputation (SFMuniDataAggregator.py:371-464): the
    sequential month chain reformulated as one ordered window pass."""
    orders = _t(spark, sf_dir, "orders")
    cells = orders.groupBy(
        "o_orderpriority", _month().alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        _pr(F.sum("o_totalprice"), 2).alias("rev"),
    )
    masked = cells.withColumn(
        "obs_n",
        F.when(F.month("month").isin(3, 7), F.lit(0)).otherwise(F.col("n")),
    ).drop("n")
    out = impute_from_prior_month(
        masked,
        ["o_orderpriority"],
        "month",
        ["rev"],
        observed_count_col="obs_n",
        provenance_col="imp_n",
    )
    return out.select("o_orderpriority", "month", "obs_n", "rev", "imp_n")


@_register(
    "w12b_impute_chain_strict",
    """
    WITH cells AS (
      SELECT CAST(o_custkey % 50 AS BIGINT) AS cell,
             strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
             CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                  AS BIGINT) AS obs_n,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS v_price,
             CAST(count(*) AS BIGINT) AS v_orders
      FROM orders GROUP BY 1, 2
    ), isl AS (
      SELECT *,
             dense_rank() OVER (ORDER BY month) AS gidx,
             dense_rank() OVER (ORDER BY month)
               - row_number() OVER (PARTITION BY cell ORDER BY month) AS island
      FROM cells
    )
    SELECT cell, month, obs_n,
           CAST(CASE WHEN obs_n > 0 OR gidx = 1 THEN v_price
                ELSE last_value(CASE WHEN obs_n > 0 OR gidx = 1 THEN v_price END
                                IGNORE NULLS) OVER w
                END AS BIGINT) AS v_price,
           CAST(CASE WHEN obs_n > 0 OR gidx = 1 THEN v_orders
                ELSE last_value(CASE WHEN obs_n > 0 OR gidx = 1 THEN v_orders END
                                IGNORE NULLS) OVER w
                END AS BIGINT) AS v_orders,
           CAST(CASE WHEN obs_n > 0 OR gidx = 1 THEN 0
                ELSE last_value(CASE WHEN obs_n > 0 OR gidx = 1 THEN obs_n END
                                IGNORE NULLS) OVER w
                END AS BIGINT) AS imp_n
    FROM isl
    WINDOW w AS (PARTITION BY cell, island ORDER BY month
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def w12b_impute_chain_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICT month-chain imputation (SFMuniDataAggregator.py:424-462
    at full fidelity): unlike w12's converged carry-forward, the chain
    BREAKS when a cell has no row in an intermediate present month
    (the reference's per-month left merge finds nothing), and the
    first present month passes through unimputed. Gaps-and-islands
    windows replace the sequential loop; the sparse custkey%50 panel
    exercises real islands at every sf. All-integer outputs for
    cross-engine hash stability."""
    orders = _t(spark, sf_dir, "orders")
    cells = orders.groupBy(
        (F.col("o_custkey") % 50).cast("bigint").alias("cell"),
        _month().alias("month"),
    ).agg(
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("obs_n"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("bigint")
        .alias("v_price"),
        F.count(F.lit(1)).cast("bigint").alias("v_orders"),
    )
    out = impute_from_prior_month(
        cells,
        ["cell"],
        "month",
        ["v_price", "v_orders"],
        observed_count_col="obs_n",
        provenance_col="imp_n",
        strict_chain=True,
    )
    return out.select(
        "cell",
        "month",
        "obs_n",
        F.col("v_price").cast("bigint").alias("v_price"),
        F.col("v_orders").cast("bigint").alias("v_orders"),
        F.col("imp_n").cast("bigint").alias("imp_n"),
    )


@_register(
    "w14_trend_12mo",
    """
    WITH m AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    )
    SELECT month, n,
           CAST(n - lag(n, 12) OVER (ORDER BY month) AS BIGINT) AS diff12,
           CAST(n AS DOUBLE) / lag(n, 12) OVER (ORDER BY month) - 1.0 AS pct12
    FROM m
    """,
)
def w14_trend_12mo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-month difference trends (TransitReporter.py:637-941)."""
    orders = _t(spark, sf_dir, "orders")
    m = orders.groupBy(_month().alias("month")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy("month")
    prev = F.lag("n", 12).over(w)
    return m.select(
        "month",
        "n",
        (F.col("n") - prev).cast("bigint").alias("diff12"),
        (F.col("n").cast("double") / prev - 1.0).alias("pct12"),
    )


@_register(
    "p5_dedup_by_order",
    """
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    """,
)
def p5_dedup_by_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic drop_duplicates (SFMuniDataHelper.py:524): keep the
    latest order per customer under an explicit total ordering."""
    orders = _t(spark, sf_dir, "orders")
    latest = dedup_by_order(
        orders,
        ["o_custkey"],
        [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
    )
    return latest.select("o_custkey", "o_orderkey", "o_totalprice")


@_register(
    "o3_topk_per_group",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           CAST(row_number() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice DESC, o_orderkey)
                AS INT) AS rank
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice DESC, o_orderkey) <= 3
    """,
)
def o3_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group (HwyNetwork.py:314-367 nearest-N shape)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rank")
    )


@_register(
    "w7_expansion_weights",
    """
    SELECT l_orderkey, l_linenumber,
           (CASE WHEN l_linenumber <= 2 THEN 1.0 END)
             * (sum(1.0) OVER cell
                / sum((CASE WHEN l_linenumber <= 2 THEN 1.0 END) * 1.0) OVER cell)
             AS weight
    FROM lineitem
    WINDOW cell AS (PARTITION BY l_orderkey)
    """,
)
def w7_expansion_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expansion weighting (SFMuniDataExpander.py:122-166) row-level:
    within each order, lines 1-2 are 'observed' and weighted up to
    represent all lines; Σ(weight·stops) = Σ(stops) per cell."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .withColumn(
            "trip_weight",
            F.when(F.col("l_linenumber") <= 2, F.lit(1.0)),
        )
        .withColumn("trip_stops", F.lit(1.0))
    )
    w = calc_weights(li, ["l_orderkey"], "trip_weight", "trip_stops", "weight")
    return w.select("l_orderkey", "l_linenumber", "weight")


# ---------------------------------------------------------------------------
# §2.8 scalar functions (service-day semantics)
# ---------------------------------------------------------------------------


@_register(
    "f5_service_day",
    """
    WITH e AS (
      SELECT CASE WHEN hour(ts) < 3 THEN CAST(ts AS DATE) - 1
                  ELSE CAST(ts AS DATE) END AS service_date,
             hour(ts) * 100 + minute(ts) AS hhmm,
             user_id
      FROM events
    ), c AS (
      SELECT strftime(service_date, '%Y-%m-%d') AS service_date_s,
             CASE WHEN dayofweek(strptime(service_date_s, '%Y-%m-%d')) = 0 THEN 3
                  WHEN dayofweek(strptime(service_date_s, '%Y-%m-%d')) = 6 THEN 2
                  ELSE 1 END AS dow_class,
             CASE WHEN hhmm BETWEEN 300 AND 559 THEN '0300-0559'
                  WHEN hhmm BETWEEN 600 AND 859 THEN '0600-0859'
                  WHEN hhmm BETWEEN 900 AND 1359 THEN '0900-1359'
                  WHEN hhmm BETWEEN 1400 AND 1559 THEN '1400-1559'
                  WHEN hhmm BETWEEN 1600 AND 1859 THEN '1600-1859'
                  WHEN hhmm BETWEEN 1900 AND 2159 THEN '1900-2159'
                  ELSE '2200-0259' END AS tod,
             user_id
      FROM e
    )
    SELECT service_date_s AS service_date, dow_class, tod,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM c GROUP BY 1, 2, 3
    """,
)
def f5_service_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service-day wraparound (F5, SFMuniDataHelper.py:622-649 /
    ClipperHelper.py:31-42) + DOW class (F15) + TEP time-of-day
    bucketing (F14) — the centralized domain-semantic column functions."""
    ev = _events(spark, sf_dir)
    e = ev.select(
        service_date_rollover(F.col("ts")).alias("service_date_d"),
        (F.hour("ts") * 100 + F.minute("ts")).alias("hhmm"),
        "user_id",
    )
    c = e.select(
        F.date_format("service_date_d", "yyyy-MM-dd").alias("service_date"),
        dow_class(F.col("service_date_d")).alias("dow_class"),
        tod_period(F.col("hhmm")).alias("tod"),
        "user_id",
    )
    return c.groupBy("service_date", "dow_class", "tod").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@_register(
    "f11_derived_metrics",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS disc_price,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
           CASE WHEN l_quantity > 0
                THEN round(l_extendedprice / l_quantity, 2)
                ELSE 0.0 END AS unit_price
    FROM lineitem WHERE l_orderkey <= 100
    """,
)
def f11_derived_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level derived metrics (F11, SFMuniDataExpander.py:553-590)
    with the guarded-ratio convention (safe_ratio)."""
    from ..functions.metrics import safe_ratio

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") <= 100)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "disc_price"
        ),
        (
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
        ).alias("charge"),
        safe_ratio(F.col("l_extendedprice"), F.col("l_quantity")).alias(
            "unit_price"
        ),
    )
