"""Relational extension operators the reference lacks (SURVEY §2.2):
aggregation, distinct, deterministic top-k — the natural Spark-native
generalizations over match results and fact tables.

Numeric aggregates over floating-point columns are computed in DECIMAL
then cast back to double: partial aggregation order (map-side combine
across partitions) must not change the result, or the DuckDB oracle and
any two cluster runs would disagree in the last bits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .materialize import materialize


def rev_decimal() -> F.Column:
    """Discounted revenue computed EXACTLY in DECIMAL:
    ``dec(l_extendedprice) * (1 - dec(l_discount))``.

    Casting the double PRODUCT to DECIMAL(25,2) is engine-dependent on
    boundary cents (half-up vs half-even on values that land exactly on
    x.xx5 after the double multiply — observed at sf0.1); casting each
    FACTOR first is not: the doubles are within half an ulp of their
    true 2-dec values, so nearest-cent rounding is unambiguous in any
    engine, and the decimal multiply/sum after that is exact.
    """
    price = F.col("l_extendedprice").cast("decimal(25,2)")
    disc = F.col("l_discount").cast("decimal(25,2)")
    return price * (F.lit(1).cast("decimal(25,2)") - disc)


def dsum(col: str, scale: int = 2) -> F.Column:
    """Order-independent sum of a double column: aggregate exactly in
    DECIMAL(25, scale), return double."""
    return F.sum(F.col(col).cast(f"decimal(25,{scale})")).cast("double")


def davg(col: str, scale: int = 2):
    """Order-independent mean: exact DECIMAL sum, then ONE double division
    (decimal÷long division would round at Spark's decimal scale rules,
    which DuckDB does not reproduce)."""
    return F.sum(F.col(col).cast(f"decimal(25,{scale})")).cast("double") / F.count(F.col(col))


# Size gate for broadcast hints on SF-LINEAR inputs (filtered customer /
# part / supplier, derived per-key aggregates).  An unconditional
# F.broadcast() on such a side is fine at SF100 (~1 MB) but an OOM-class
# failure at SF10k+ — and worse than no hint, because the hint overrides
# AQE's size-based fallback to a shuffle join.  32 MiB of Catalyst's
# optimized-plan size estimate is comfortably under any executor budget
# even at the usual ~5-10x estimate-to-in-memory blowup.
#
# Schema-CONSTANT sides (region=5 rows, nation=25, 1-row global
# aggregates, per-segment stats over a 5-value domain) keep their
# unconditional F.broadcast() — their cardinality is a property of the
# schema, not of scale factor.
BROADCAST_GATE_BYTES: int = 32 << 20

# When a test sets this to a list, every maybe_broadcast decision is
# appended as (size_bytes_or_None, hinted) so plan tests can assert the
# gate — not the AQE-chosen strategy — controls the hint.
_GATE_TRACE: list | None = None


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan ``sizeInBytes`` estimate for ``df``.

    Driver-only and job-free: file-source relations report (pruned-column
    scaled) file size, joins/aggregates propagate per the size-only stats
    visitor.  Raises on backends without ``_jdf`` (Spark Connect) —
    callers treat that as "cannot prove small"."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    return int(stats.sizeInBytes())


def plan_reads_files(df: DataFrame) -> bool:
    """True when any leaf of the optimized plan is a storage-backed
    relation (file scan / catalog table), i.e. when Catalyst's
    ``sizeInBytes`` estimate is COMPRESSED on-disk bytes; False for
    purely in-memory plans (LocalRelation, LogicalRDD from
    createDataFrame / localCheckpoint, Range), whose estimate is
    already decompressed row bytes.  Drives the decompress margin in
    :func:`partition_offset_rank` (round-13 advice: the margin belongs
    to the ESTIMATE'S SOURCE, not to whether the caller passed an
    explicit budget).  Unrecognized leaf classes count as
    storage-backed — "cannot prove in-memory" must never skip the
    margin.  ``InMemoryRelation`` (a cached DataFrame) counts as
    in-memory too (round-14 advice): its estimate is the in-memory
    columnar size, not compressed on-disk bytes, so taxing it 4×
    reintroduces the double margin round-12 removed for cached
    inputs."""
    in_memory = {
        "LocalRelation", "LogicalRDD", "Range", "OneRowRelation",
        "InMemoryRelation",
    }
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    for i in range(leaves.size()):
        if leaves.apply(i).getClass().getSimpleName() not in in_memory:
            return True
    return False


def maybe_broadcast(
    df: DataFrame,
    gate_bytes: int | None = None,
    probe: DataFrame | None = None,
) -> DataFrame:
    """Broadcast-hint ``df`` only when Catalyst's size estimate proves it
    small (≤ ``gate_bytes``, default ``BROADCAST_GATE_BYTES``).

    This is the scale-safe replacement for unconditional ``F.broadcast``
    on SF-linear sides: at sf0.1..SF100 the estimate is KBs..MBs and the
    hint fires exactly as before; at SF10k+ the estimate is TBs, no hint
    is planted, and AQE remains free to pick (or reject) a runtime
    broadcast from actual shuffle stats.  When the estimate is
    unavailable the frame is returned unhinted — "cannot prove small"
    must never mean "assume small".

    ``probe``: size-estimate stand-in for composite frames.  The
    size-only stats visitor MULTIPLIES children for joins, so
    ``customer ⋈ nation`` estimates ~10^3× too high; when ``df`` is an
    inner join of an SF-linear base against a schema-constant dim on the
    dim's unique key, the output rows are bounded by the base — pass the
    base as ``probe`` and its (still SF-linear, so still gated) estimate
    decides."""
    limit = BROADCAST_GATE_BYTES if gate_bytes is None else gate_bytes
    try:
        size: int | None = plan_size_bytes(df if probe is None else probe)
    except Exception:
        size = None
    hinted = size is not None and 0 <= size <= limit
    if _GATE_TRACE is not None:
        _GATE_TRACE.append((size, hinted))
    return F.broadcast(df) if hinted else df


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-shaped rollup: per (returnflag, linestatus) pricing stats.

    One shuffle (partial agg map-side, final agg on the two group keys).
    """
    return (
        lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def topk(df: DataFrame, order_col: str, k: int, tiebreak_col: str) -> DataFrame:
    """Deterministic top-k: order by ``order_col`` desc, ties broken by
    ``tiebreak_col`` asc.  Spark computes this as a per-partition partial
    top-k + single merge (TakeOrderedAndProject) — no full sort."""
    return df.orderBy(F.desc(order_col), F.asc(tiebreak_col)).limit(k)


# Size gate for partition_offset_rank's distributed machinery (round-9
# verdict item 6): the range shuffle + eager localCheckpoint + counts
# collect + broadcast join cost ~0.5 s of FIXED overhead, which
# dominates on the small per-group aggregates x88/m10 rank (tens of KBs
# at bench scale).  Below this Catalyst size estimate the whole input
# provably fits one task, so a single-partition ranked pass is both
# exact and strictly cheaper; above it (or when the estimate is
# unavailable) the distributed path runs unchanged.  Same posture as
# BROADCAST_GATE_BYTES: the gate is on the MEASURED estimate, so a
# frame that grows with the data flips to the distributed path by
# itself instead of silently funneling at scale.
POR_SMALL_BYTES: int = 32 << 20

# For FILE-source inputs Catalyst's sizeInBytes is compressed on-disk
# bytes — parquet routinely decompresses 3-5×, so "32 MiB estimated"
# can be hundreds of decompressed MBs funneled through coalesce(1)
# (round-11 advice).  The gate therefore charges every estimate this
# margin before comparing: small means size × margin ≤ cap, i.e. an
# effective 8 MiB on-disk ceiling at the defaults — still orders of
# magnitude above the tens-of-KB per-group aggregates the gate exists
# for (x88/m10), while a raw sf0.1+ table scan stays distributed.
POR_DECOMPRESS_MARGIN: int = 4

# When a test sets this to a list, every partition_offset_rank gate
# decision is appended as (size_bytes_or_None, took_small_path).
_POR_TRACE: list | None = None


def partition_offset_rank(
    df: DataFrame, order_cols: list, rank_col: str = "_rank",
    num_partitions: int | None = None, gate_bytes: int | None = None,
) -> DataFrame:
    """Exact global 1-based rank over a total order WITHOUT the
    single-partition global window (``WindowExec: No Partition
    Defined`` funnels ALL rows through one task — the executor.py id-
    allocation comment's SURVEY §7 risk 2, here generalized for query
    bodies like x88's Gini rank and m10's pairing rank).

    Mechanics: ``repartitionByRange`` on the sort key (the range
    partitioner guarantees partition *i* holds keys strictly below
    partition *i+1*), freeze the layout with ``materialize``, collect
    per-partition COUNTS (driver sees #partitions rows, never data),
    prefix-sum them into offsets, broadcast the offsets back, and add a
    PARTITIONED intra-partition ``row_number``.  Every stage is
    distributed; the only driver state is one integer per partition.

    ``order_cols`` must be a total order (give a tiebreaker) or ranks
    within ties are partition-placement-dependent.  Costs one range
    shuffle + a ``materialize`` barrier (which lives for the session
    like every non-rotation barrier — the frozen layout is what both
    the offsets and the ranks are defined against); when an
    approximate rank suffices, use ``equidepth_histogram``-style
    percentile binning instead (the t36 fix).  Internal columns use a ``__por_`` prefix so caller
    columns named ``_pid``/``_off`` survive; a caller column colliding
    with ``rank_col`` or the internals raises.

    Size gate (round-9 verdict item 6): when Catalyst's plan estimate
    proves the input ≤ ``gate_bytes`` (default ``POR_SMALL_BYTES``) and
    the caller did not pin ``num_partitions``, the rank is computed in
    ONE coalesced partition — a partitioned (by ``spark_partition_id``)
    row_number over the single partition, skipping the checkpoint /
    counts-collect / broadcast-join overhead entirely.  That partition
    IS the whole input, but only because the gate measured it small;
    "cannot prove small" (estimate unavailable or over the cap) always
    takes the distributed path, so the global-window funnel class stays
    closed at scale.  Because FILE-SOURCE estimates are COMPRESSED
    on-disk bytes, the gate charges ``POR_DECOMPRESS_MARGIN`` (4×)
    whenever the plan reads storage (:func:`plan_reads_files`) — so a
    32 MiB parquet frame that decompresses to hundreds of MBs takes
    the distributed path, whether the budget is the default or the
    caller's own.  In-memory plans (createDataFrame /
    localCheckpoint / range), whose estimate is already decompressed,
    are compared AS-IS (round-12 advice killed the double tax; round-13
    advice re-keyed the margin to the ESTIMATE'S SOURCE rather than to
    whether ``gate_bytes`` was explicit, which had quietly re-admitted
    ~4× the intended decompressed data for explicit budgets over file
    scans).  NOTE: unlike the
    distributed path the small path is NOT materialized (no
    localCheckpoint) — a caller that fans the ranked frame into
    multiple consumers (m10's self+partner join) recomputes the cheap
    single-partition rank per consumer; results stay correct under the
    total-order contract, but cache()/localCheckpoint it yourself if
    the input's lineage is expensive."""
    spark = df.sparkSession
    taken = set(df.columns)
    for reserved in (rank_col, "__por_pid", "__por_off"):
        if reserved in taken and reserved == rank_col:
            raise ValueError(
                f"partition_offset_rank: input already has a column named "
                f"{rank_col!r} — pass a different rank_col"
            )
        if reserved in taken:
            raise ValueError(
                f"partition_offset_rank: input column {reserved!r} collides "
                f"with an internal name — rename it first"
            )
    if num_partitions is None:
        try:
            size: int | None = plan_size_bytes(df)
        except Exception:
            size = None
        # The 4x decompress margin follows the ESTIMATE'S SOURCE
        # (round-13 advice): file-scan estimates are compressed
        # on-disk bytes, so ANY budget over them — default or the
        # caller's own — is compared against size*margin; in-memory
        # estimates are already decompressed and compared as-is
        # (round-12 advice: no double tax).  Detection failure counts
        # as file-backed: the margin only ever pushes toward the
        # scale-safe distributed path.
        try:
            reads_files = plan_reads_files(df)
        except Exception:
            reads_files = True
        limit = POR_SMALL_BYTES if gate_bytes is None else gate_bytes
        margin = POR_DECOMPRESS_MARGIN if reads_files else 1
        small = size is not None and 0 <= size * margin <= limit
        if _POR_TRACE is not None:
            _POR_TRACE.append((size, small))
        if small:
            src = df.coalesce(1).withColumn("__por_pid", F.spark_partition_id())
            w = Window.partitionBy("__por_pid").orderBy(*order_cols)
            return src.withColumn(
                # lit(0) keeps the rank LONG, matching the distributed
                # path's offset + row_number schema exactly
                rank_col, F.lit(0).cast("long") + F.row_number().over(w)
            ).drop("__por_pid")
    n_parts = num_partitions or spark.sparkContext.defaultParallelism
    src = materialize(
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__por_pid", F.spark_partition_id())
    )
    pc = src.groupBy("__por_pid").agg(F.count(F.lit(1)).alias("_c")).collect()
    acc, offs = 0, []
    for row in sorted(pc, key=lambda r: r["__por_pid"]):
        offs.append((row["__por_pid"], acc))
        acc += row["_c"]
    off_df = spark.createDataFrame(offs or [(0, 0)], "__por_pid int, __por_off long")
    w = Window.partitionBy("__por_pid").orderBy(*order_cols)
    return (
        src.join(F.broadcast(off_df), "__por_pid")
        .withColumn(rank_col, F.col("__por_off") + F.row_number().over(w))
        .drop("__por_pid", "__por_off")
    )


def group_topk(df: DataFrame, group_col: str, order_col: str, k: int, tiebreak_col: str) -> DataFrame:
    """Top-k rows per group (window rank; single shuffle on the group key)."""
    w = Window.partitionBy(group_col).orderBy(F.desc(order_col), F.asc(tiebreak_col))
    return (
        df.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= k).drop("_rk")
    )


def time_cube(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    group_col: str = "event_type",
) -> DataFrame:
    """Full CUBE over (type, day): all four grouping sets — leaves, per
    type, per day, grand total — in ONE hash aggregate (one shuffle with
    map-side partials), the OLAP companion to ``time_rollup``'s
    hierarchy.  Sentinel-folded like time_rollup."""
    day = F.date_format(F.col(ts_col), "yyyy-MM-dd")
    return (
        events.select(F.col(group_col).alias("etype"), day.alias("day"), F.col(value_col))
        .cube("etype", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(value_col).alias("sum_value"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.coalesce(F.col("etype"), F.lit("ALL")).alias("etype"),
            F.coalesce(F.col("day"), F.lit("ALL")).alias("day"),
            "gid",
            "n_events",
            "sum_value",
        )
    )


def grouped_quantiles(
    df: DataFrame,
    group_col: str = "event_type",
    value_col: str = "value",
    qs: tuple = (0.25, 0.5, 0.75, 0.95),
) -> DataFrame:
    """EXACT per-group quantiles (linear interpolation), one shuffle on
    the group key.  Results round to 6 dp: both engines interpolate
    ``lo + (hi - lo) * frac`` over the sorted values, but not necessarily
    in the same float expression shape.

    Scale note: exact percentile buffers each group's values — right for
    bounded-cardinality groups (here: per event type).  For unbounded
    groups at 100 TB use ``approx_percentile`` (t-digest sketch, fixed
    memory, mergeable partials) — same call shape, no oracle."""
    aggs = [
        F.round(F.expr(f"percentile({value_col}, {q})"), 6).alias(f"q{int(q * 100)}")
        for q in qs
    ]
    return df.groupBy(F.col(group_col).alias("grp")).agg(
        *aggs, F.count(F.lit(1)).alias("n")
    )


def time_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    group_col: str = "event_type",
) -> DataFrame:
    """Hypertable-style multi-granularity rollup: one pass producing
    (type, day, hour) leaf aggregates plus the (type, day) and (type)
    super-aggregates via ``ROLLUP`` — Spark expands the grouping sets in
    a single hash aggregate (one shuffle), instead of three scans.

    NULL grouping keys from super-aggregate rows are folded to sentinels
    ('ALL' / -1) so the output is join- and oracle-friendly.
    """
    day = F.date_format(F.col(ts_col), "yyyy-MM-dd")
    hour = F.hour(F.col(ts_col))
    return (
        events.select(
            F.col(group_col).alias("etype"),
            day.alias("day"),
            hour.alias("hour"),
            F.col(value_col),
        )
        .rollup("etype", "day", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(value_col).alias("sum_value"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.coalesce(F.col("etype"), F.lit("ALL")).alias("etype"),
            F.coalesce(F.col("day"), F.lit("ALL")).alias("day"),
            F.coalesce(F.col("hour"), F.lit(-1)).alias("hour"),
            "gid",
            "n_events",
            "sum_value",
        )
    )


def local_supplier_volume(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "ASIA",
    date_lo: str = "1996-01-01",
    date_hi: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q5-shaped 6-table join: revenue per nation from lineitems
    where the customer and supplier share a nation inside one region,
    for orders in a date window.

    Scale design: the region→nation lookup collapses to a broadcast of
    a handful of rows, and customers are pre-filtered to the region's
    nations BEFORE the fact joins, so the only real shuffles are
    orders⋈customer on custkey and lineitem⋈(orders⋈customer) on
    orderkey — both unavoidable fact-side exchanges.  Nation is
    broadcast unconditionally (25 rows at every SF); supplier (10k
    rows/SF — SF-linear) gets a size-GATED hint via maybe_broadcast,
    so at SF10k+ the hint drops and AQE picks the strategy.  The
    supplier join keys on (suppkey, nationkey) so the same-nation
    predicate is part of the hash join, not a post-filter.  Revenue accumulates in
    DECIMAL (order independent); the final sort is over ≤|nations| rows.
    """
    lo = F.lit(date_lo).cast("timestamp")
    hi = F.lit(date_hi).cast("timestamp")
    r = region.where(F.col("r_name") == region_name).select("r_regionkey")
    n = (
        nation.join(F.broadcast(r), nation.n_regionkey == r.r_regionkey)
        .select("n_nationkey", "n_name")
    )
    c = (
        customer.join(
            F.broadcast(n.select("n_nationkey")),
            customer.c_nationkey == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_nationkey")
    )
    o = orders.where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)).select(
        "o_orderkey", "o_custkey"
    )
    oc = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_nationkey")
    li = lineitem.select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    s = supplier.select("s_suppkey", "s_nationkey")
    j = (
        li.join(oc, li.l_orderkey == oc.o_orderkey)
        .join(
            maybe_broadcast(s),
            (F.col("l_suppkey") == s.s_suppkey)
            & (F.col("c_nationkey") == s.s_nationkey),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
    )
    return (
        j.groupBy("n_name")
        .agg(
            F.sum(
                rev_decimal()
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def small_order_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    brand: str = "Brand#13",
) -> DataFrame:
    """TPC-H Q17-shaped correlated aggregate: revenue from lineitems of
    one brand whose quantity is below 20% of that part's average
    quantity.

    Scale design: the brand-filtered part keys are a size-gated
    broadcast dim (maybe_broadcast — part is SF-linear), so at small SF
    lineitem is pruned map-side before anything shuffles and at SF10k+
    AQE decides.  The per-part
    average and the re-join both key on ``l_partkey`` — Catalyst reuses
    one hash-partitioning for the aggregate and the join (no second
    exchange of the fact side).  The threshold test is evaluated in
    exact integer-scaled DECIMAL arithmetic (``5·qty·n < Σqty`` instead
    of ``qty < 0.2·Σqty/n``), so there is no float rounding at the
    boundary for the oracle or a re-run to disagree on.
    """
    p = part.where(F.col("p_brand") == brand).select("p_partkey")
    li = (
        lineitem.select("l_partkey", "l_quantity", "l_extendedprice")
        .join(maybe_broadcast(p), F.col("l_partkey") == p.p_partkey)
        .drop("p_partkey")
    )
    qty_dec = F.col("l_quantity").cast("decimal(25,2)")
    stats = li.groupBy("l_partkey").agg(
        F.sum(qty_dec).alias("_sum_qty"), F.count(F.lit(1)).alias("_n")
    )
    j = li.join(stats, "l_partkey")
    small = j.where(qty_dec * F.lit(5) * F.col("_n") < F.col("_sum_qty"))
    return small.agg(
        F.count(F.lit(1)).alias("n_small"),
        (F.sum(F.col("l_extendedprice").cast("decimal(25,2)")).cast("double") / F.lit(7.0))
        .alias("avg_yearly"),
    )


def inactive_rich_customers(
    customer: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    dormant_since: str = "2000-01-01",
) -> DataFrame:
    """TPC-H Q22-shaped anti-join: per-nation count and total balance of
    customers whose account balance beats the global positive-balance
    average but who placed no order since ``dormant_since``.

    Scale design: the global threshold is a 1-row aggregate broadcast
    into a map-side filter; the above-average test is exact
    (``bal·n > Σbal`` in DECIMAL — no float boundary).  The dormancy
    test is a left-anti shuffle join against the distinct custkeys of
    the date-filtered orders (filter pushes to the scan, distinct first
    so the anti probe carries one row per customer, not one per
    order).  Nation names are broadcast.
    """
    bal_dec = F.col("c_acctbal").cast("decimal(25,2)")
    thr = customer.where(F.col("c_acctbal") > 0.0).agg(
        F.sum(bal_dec).alias("_sum_bal"), F.count(F.lit(1)).alias("_n")
    )
    rich = (
        customer.select("c_custkey", "c_nationkey", "c_acctbal")
        .join(F.broadcast(thr))
        .where(bal_dec * F.col("_n") > F.col("_sum_bal"))
    )
    recent = (
        orders.where(F.col("o_orderdate") >= F.lit(dormant_since).cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    inactive = rich.join(
        recent,
        rich.c_custkey == F.col("o_custkey"),
        "left_anti",
    )
    n = nation.select("n_nationkey", "n_name")
    return (
        inactive.join(F.broadcast(n), inactive.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(bal_dec).cast("double").alias("total_bal"),
        )
    )


def promo_revenue_share(
    lineitem: DataFrame,
    part: DataFrame,
    date_lo: str = "1996-01-01",
    date_hi: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q14-shaped conditional aggregation: the share of revenue
    from promo parts in a ship-date window.

    Scale design: the date filter pushes to the lineitem scan; the
    part join keys on ``l_partkey`` with no hint — Catalyst broadcasts
    while the dim fits and falls back to a shuffled hash join beyond
    the threshold (part is SF·200k rows: broadcastable at small SF,
    not at SF100k).  Both the conditional and total revenue accumulate
    in DECIMAL inside ONE aggregate (single scan, map-side partials);
    the only double op is the final ratio, identical in the oracle.
    """
    lo = F.lit(date_lo).cast("timestamp")
    hi = F.lit(date_hi).cast("timestamp")
    li = lineitem.where((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)).select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    rev = rev_decimal()
    j = li.join(
        part.select("p_partkey", "p_type"), li.l_partkey == F.col("p_partkey")
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.lit(100.0)
            * F.sum(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(
                    F.lit(0).cast("decimal(25,2)")
                )
            ).cast("double")
            / F.sum(rev).cast("double"),
            6,
        ).alias("promo_share"),
    )


def cheapest_supplier(
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    part: DataFrame,
    brand: str = "Brand#13",
) -> DataFrame:
    """TPC-H Q2-flavoured correlated argmin: for every part of one
    brand, the supplier that shipped it at the lowest unit price
    (ties to the smaller suppkey).  Q2 proper needs partsupp, which the
    fixture lacks; lineitem is the part↔supplier link here.

    Scale design: the brand dim's size-gated broadcast (part and
    supplier are SF-linear — maybe_broadcast) prunes lineitem map-side;
    the per-part argmin is ``MIN(struct(unit_price, suppkey))`` — an
    aggregate with map-side partials (lexicographic struct ordering
    gives the deterministic tie-break), NOT a window sort over the fact
    table; supplier→nation name resolution joins broadcast dims onto
    the |parts|-sized result, not onto lineitem.
    """
    p = part.where(F.col("p_brand") == brand).select("p_partkey")
    unit = (F.col("l_extendedprice") / F.col("l_quantity")).alias("_unit")
    li = (
        lineitem.select("l_partkey", "l_suppkey", unit)
        .join(maybe_broadcast(p), F.col("l_partkey") == p.p_partkey)
        .drop("p_partkey")
    )
    best = li.groupBy("l_partkey").agg(
        F.min(F.struct(F.col("_unit"), F.col("l_suppkey"))).alias("_b")
    )
    s = supplier.select("s_suppkey", "s_name", "s_nationkey")
    n = nation.select("n_nationkey", "n_name")
    return (
        best.select(
            F.col("l_partkey").alias("partkey"),
            F.col("_b._unit").alias("unit_price"),
            F.col("_b.l_suppkey").alias("suppkey"),
        )
        .join(maybe_broadcast(s), F.col("suppkey") == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("partkey", "unit_price", "suppkey", "s_name", "n_name")
    )


def large_volume_orders(
    orders: DataFrame,
    lineitem: DataFrame,
    customer: DataFrame,
    min_qty: float = 120.0,
    k: int = 20,
) -> DataFrame:
    """TPC-H Q18-shaped correlated HAVING: orders whose total lineitem
    quantity exceeds ``min_qty``, with customer name, largest first.

    Scale design: the per-order quantity aggregate runs FIRST and its
    HAVING prunes to the (tiny) heavy-hitter set, so the orders and
    customer joins touch only surviving keys; quantities aggregate in
    DECIMAL (exact, so the HAVING boundary can't float-drift); final
    top-k is TakeOrderedAndProject.  The aggregate and the orders join
    share the orderkey partitioning — one fact shuffle total.
    """
    qty = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(25,2)")).alias("_sq"))
        .filter(F.col("_sq") > F.lit(min_qty).cast("decimal(25,2)"))
    )
    j = orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice").join(
        qty, orders.o_orderkey == qty.l_orderkey
    )
    c = customer.select("c_custkey", "c_name")
    return (
        j.join(maybe_broadcast(c), j.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("_sq").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("sum_qty"), F.asc("o_orderkey"))
        .limit(k)
    )


def disjunctive_revenue(
    lineitem: DataFrame,
    part: DataFrame,
) -> DataFrame:
    """TPC-H Q19-shaped OR-of-ANDs predicate: revenue from lineitems
    matching any of three (brand, size-range, quantity-range) arms.

    Scale design: the point of Q19 is predicate shape — Catalyst
    distributes the OR across the join so each side's common conjuncts
    push into the parquet scans (quantity bounds on lineitem, size
    bounds on part) instead of evaluating the whole disjunction post-
    join; the join itself keys on partkey with the brand dim broadcast.
    Revenue accumulates in DECIMAL.
    """
    li = lineitem.select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    p = part.select("p_partkey", "p_brand", "p_size")
    j = li.join(p, li.l_partkey == p.p_partkey)
    q = F.col("l_quantity")
    s = F.col("p_size")
    b = F.col("p_brand")
    arm1 = (b == "Brand#1") & (s >= 1) & (s <= 5) & (q >= 1) & (q <= 11)
    arm2 = (b == "Brand#13") & (s >= 1) & (s <= 10) & (q >= 10) & (q <= 20)
    arm3 = (b == "Brand#20") & (s >= 1) & (s <= 15) & (q >= 20) & (q <= 30)
    return j.where(arm1 | arm2 | arm3).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            rev_decimal()
        )
        .cast("double")
        .alias("revenue"),
    )


def trailing_activity(
    events: DataFrame,
    window_s: int = 3600,
) -> DataFrame:
    """Per-event trailing-window activity features: for every event, the
    count and value-sum of the SAME USER's events in the preceding
    ``window_s`` seconds (inclusive) — the activity-velocity feature a
    fraud/abuse or engagement model trains on.

    Scale design: ONE window spec, ``partitionBy(user) orderBy(epoch)
    rangeBetween(-window_s, 0)`` — a single hash-partition exchange on
    user_id plus an in-partition sort; the RANGE frame makes ties
    (equal timestamps) peers, identical to SQL's ``RANGE INTERVAL
    PRECEDING``.  Users are high-cardinality so partitions stay small;
    the frame sum accumulates in DECIMAL (exact under any frame
    evaluation order).
    """
    from pyspark.sql.window import Window

    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-window_s * 1_000_000, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_trail"),
        F.sum(F.col("value").cast("decimal(25,2)")).over(w).cast("double").alias("sum_trail"),
    )


def distinct_user_counts(
    events: DataFrame,
    group_col: str = "event_type",
    user_col: str = "user_id",
) -> DataFrame:
    """Per-group exact distinct-user counts (+ event totals).

    Scale design: Spark plans COUNT(DISTINCT) as a two-stage expand —
    partial per-(group, user) dedup map-side, then the final aggregate —
    so the shuffle carries one row per (group, distinct user), not per
    event.  At 100 TB with billions of distinct users per group, swap in
    ``approx_count_distinct(user, rsd)`` (HyperLogLog++: fixed-size
    mergeable sketches, no per-user shuffle rows) — same call shape, a
    relative-error knob instead of an oracle.
    """
    return events.groupBy(F.col(group_col).alias("etype")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.col(user_col)).alias("n_users"),
    )


def order_history(orders: DataFrame) -> DataFrame:
    """Per-customer order-history analytics with window functions:
    sequence number, running spend, previous order price, and spend
    rank — the canonical lag/rank/cumulative family.

    Scale design: BOTH window specs partition by ``o_custkey``, so
    Catalyst plans a single hash-partition Exchange feeding two
    in-partition Sorts — adding window columns over the same key is
    free of extra shuffles.  The running sum accumulates in DECIMAL
    (exact, associative) so the in-frame addition order can never
    produce run-to-run float drift; the ordering key (date, orderkey)
    is unique, making RANGE and ROWS frames identical and the result
    fully deterministic.
    """
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_rank = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("long").alias("seq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("running_spend"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.rank().over(w_rank).cast("long").alias("spend_rank"),
    )


def shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    cutoff: str = "1998-06-01",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3-shaped multi-join: revenue of not-yet-shipped lineitems
    for orders placed by one market segment before ``cutoff``.

    Scale design: filters land BEFORE the joins so they push into the
    parquet scans; the segment-filtered customer keys take a size-GATED
    broadcast hint (customer is SF-linear — maybe_broadcast: map-side
    hash join while the estimate proves it small, AQE's choice past the
    gate); the only real shuffle is
    lineitem ⋈ orders on the orderkey, which is also the aggregation
    key, so the groupBy reuses the join's partitioning instead of
    shuffling a second time.  Revenue accumulates in DECIMAL (order
    independent); final top-k is TakeOrderedAndProject, not a full sort.
    """
    cut = F.lit(cutoff).cast("timestamp")
    c = customer.where(F.col("c_mktsegment") == segment).select("c_custkey")
    o = orders.where(F.col("o_orderdate") < cut).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = lineitem.where(F.col("l_shipdate") > cut).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    j = li.join(
        o.join(maybe_broadcast(c), o.o_custkey == c.c_custkey).drop("c_custkey"),
        li.l_orderkey == F.col("o_orderkey"),
    )
    agg = j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum(
            rev_decimal()
        )
        .cast("double")
        .alias("revenue")
    )
    return agg.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(k)


def volume_shipping(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
    date_lo: str = "1996-01-01",
    date_hi: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q7-shaped bilateral trade volume: revenue shipped between
    two nations (either direction) per (supp_nation, cust_nation, year).

    Scale design: supplier and customer are reduced to (key → nation
    name) lookups restricted to the TWO nations of interest before
    anything joins, so both dimension joins are size-gated broadcasts
    (customer/supplier are SF-linear — maybe_broadcast) that also
    PRUNE the fact rows map-side (inner join ⇒ only lineitems touching
    the two nations survive).  The cross-pair predicate
    (supp≠cust nation) is evaluated after both joins, still
    map-side when the hint fires.  The only shuffle is lineitem ⋈ orders on orderkey;
    revenue accumulates in DECIMAL.
    """
    lo = F.lit(date_lo).cast("timestamp")
    hi = F.lit(date_hi).cast("timestamp")
    n2 = nation.where(F.col("n_name").isin(nation_a, nation_b)).select(
        "n_nationkey", "n_name"
    )
    s = supplier.join(
        F.broadcast(n2), supplier.s_nationkey == n2.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    c = customer.join(
        F.broadcast(n2), customer.c_nationkey == n2.n_nationkey
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    li = lineitem.where((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)).select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    o = orders.select("o_orderkey", "o_custkey").join(
        # c/s are base ⋈ 2-row n2 on the unique nation key (|out| ≤
        # |base|); the size-only join estimate multiplies — probe bases
        maybe_broadcast(c, probe=customer), F.col("o_custkey") == c.c_custkey
    )
    j = (
        li.join(maybe_broadcast(s, probe=supplier), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(rev_decimal()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def waiting_suppliers(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_name: str = "NATION_3",
    late_days: int = 90,
    k: int = 20,
) -> DataFrame:
    """TPC-H Q21-shaped blame assignment: suppliers from one nation who
    were the ONLY late supplier on a finished multi-supplier order.

    "Late" is adapted to this schema (no commit/receipt dates):
    ``l_shipdate > o_orderdate + late_days``.

    Scale design: the EXISTS (another supplier participated) and NOT
    EXISTS (no OTHER supplier was late) subqueries are decorrelated
    into per-orderkey aggregates computed in ONE pass over lineitem —
    ``count(distinct suppkey)`` overall and among the late rows — then
    joined back on orderkey.  That is 2 shuffles total on orderkey
    (agg + join), versus the naive 4-way self-join; the supplier
    dimension is a size-gated broadcast (SF-linear — maybe_broadcast),
    and the final per-supplier count reuses
    map-side partials.  Top-k via TakeOrderedAndProject.
    """
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {late_days} DAYS"
    )
    o = orders.where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = lineitem.select("l_orderkey", "l_suppkey", "l_shipdate").join(
        o, F.col("l_orderkey") == o.o_orderkey
    ).select("l_orderkey", "l_suppkey", late.alias("_late"))
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("_n_supp"),
        F.countDistinct(F.when(F.col("_late"), F.col("l_suppkey"))).alias(
            "_n_late_supp"
        ),
    )
    blamed = (
        li.where(F.col("_late"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(
            per_order.where(
                (F.col("_n_supp") > 1) & (F.col("_n_late_supp") == 1)
            ).select("l_orderkey"),
            "l_orderkey",
        )
    )
    n1 = nation.where(F.col("n_name") == nation_name).select("n_nationkey")
    s = supplier.join(
        F.broadcast(n1), supplier.s_nationkey == F.col("n_nationkey")
    ).select("s_suppkey", "s_name")
    return (
        blamed.join(maybe_broadcast(s), blamed.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(k)
    )


def important_parts(
    lineitem: DataFrame,
    part: DataFrame,
    fraction: float = 0.0005,
) -> DataFrame:
    """TPC-H Q11-shaped share-of-total filter: parts whose total revenue
    exceeds ``fraction`` of ALL revenue.

    Scale design: one DECIMAL aggregate per partkey (map-side combined);
    the global total is the SUM of those per-part totals — a second
    tiny aggregate over |parts| rows, not a second scan of the fact
    table — broadcast back as a 1-row cross join for a map-side
    threshold filter.  The threshold test multiplies instead of
    dividing (``value · 1/fraction > total``) and stays in DECIMAL, so
    the boundary is exact for the oracle.  Name join touches only
    surviving keys.
    """
    per_part = lineitem.groupBy("l_partkey").agg(
        F.sum(rev_decimal()).alias("_value")
    )
    total = per_part.agg(F.sum("_value").alias("_total"))
    inv = int(round(1.0 / fraction))
    kept = per_part.join(F.broadcast(total)).where(
        F.col("_value") * inv > F.col("_total")
    )
    return (
        kept.join(part.select("p_partkey", "p_name"), kept.l_partkey == F.col("p_partkey"))
        .select(
            F.col("l_partkey").alias("partkey"),
            "p_name",
            F.col("_value").cast("double").alias("value"),
        )
        .orderBy(F.desc("value"), F.asc("partkey"))
    )


def top_suppliers(
    lineitem: DataFrame,
    supplier: DataFrame,
    date_lo: str = "1996-01-01",
    date_hi: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15-shaped argmax: the supplier(s) with maximum revenue in
    a quarter (ties all kept, like the reference view formulation).

    Scale design: per-supplier DECIMAL revenue is one map-side-combined
    aggregate over the date-pruned scan; the global max is a 1-row
    aggregate over |suppliers| rows, broadcast back for an EXACT
    DECIMAL equality filter (no window sort over the fact table, no
    float boundary ambiguity).  Supplier names join after the filter —
    a handful of rows.
    """
    lo = F.lit(date_lo).cast("timestamp")
    hi = F.lit(date_hi).cast("timestamp")
    rev = (
        lineitem.where((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy("l_suppkey")
        .agg(F.sum(rev_decimal()).alias("_rev"))
    )
    mx = rev.agg(F.max("_rev").alias("_mx"))
    best = rev.join(F.broadcast(mx)).where(F.col("_rev") == F.col("_mx"))
    return (
        best.join(supplier, best.l_suppkey == supplier.s_suppkey)
        .select(
            F.col("s_suppkey").alias("suppkey"),
            "s_name",
            F.col("_rev").cast("double").alias("total_revenue"),
        )
        .orderBy("suppkey")
    )


def order_priority_counts(
    orders: DataFrame,
    lineitem: DataFrame,
    date_lo: str = "1997-01-01",
    date_hi: str = "1997-04-01",
    late_days: int = 60,
) -> DataFrame:
    """TPC-H Q4-shaped EXISTS count: orders per priority, in a quarter,
    having at least one lineitem shipped more than ``late_days`` after
    the order date (the schema-adapted commit<receipt predicate).

    Scale design: the EXISTS is a LEFT SEMI join on orderkey — Spark
    never materializes the multiplicity of matching lineitems, and the
    date filter prunes orders at the parquet scan before the join.  The
    final aggregate is over ≤5 priority groups, map-side combined.
    """
    lo = F.lit(date_lo).cast("timestamp")
    hi = F.lit(date_hi).cast("timestamp")
    o = orders.where(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = lineitem.select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (li.l_orderkey == o.o_orderkey)
        & (
            li.l_shipdate
            > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS")
        ),
        "leftsemi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    part: DataFrame,
    target_nation: str = "NATION_2",
    region_name: str = "ASIA",
    p_type: str = "PROMO",
) -> DataFrame:
    """TPC-H Q8-shaped market share: per order-year, the fraction of
    revenue for one part type sold into one region that was supplied
    by the target nation.

    Scale design: part-type keys and the region's customers are
    size-gated broadcast dims (SF-linear — maybe_broadcast) that prune
    lineitem/orders map-side at small SF; the
    supplier→nation lookup likewise tags each row with the
    supp nation for a ONE-PASS conditional aggregate
    (share = Σ(case target)/Σ(all), both in DECIMAL, single division
    at the end) — no second scan, no join of two aggregates.
    """
    p = part.where(F.col("p_type") == p_type).select("p_partkey")
    r = region.where(F.col("r_name") == region_name).select("r_regionkey")
    rn = nation.join(F.broadcast(r), nation.n_regionkey == r.r_regionkey).select(
        "n_nationkey"
    )
    c = customer.join(
        F.broadcast(rn), customer.c_nationkey == F.col("n_nationkey")
    ).select("c_custkey")
    sn = supplier.join(
        nation.select("n_nationkey", "n_name"),
        supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    o = orders.select("o_orderkey", "o_custkey", "o_orderdate").join(
        # c = customer ⋈ 25-row rn on the unique nation key: |c| ≤
        # |customer|, but the size-only join estimate multiplies — probe
        # the base instead
        maybe_broadcast(c, probe=customer), F.col("o_custkey") == c.c_custkey
    )
    li = lineitem.select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    ).join(maybe_broadcast(p), F.col("l_partkey") == p.p_partkey)
    j = li.join(
        # |sn| = |supplier| (unique-key nation lookup) — probe the base
        maybe_broadcast(sn, probe=supplier), li.l_suppkey == sn.s_suppkey
    ).join(o, li.l_orderkey == o.o_orderkey)
    vol = rev_decimal()
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == target_nation, vol).otherwise(
                F.lit(0).cast("decimal(25,2)")
            )).alias("_target"),
            F.sum(vol).alias("_all"),
        )
        .select(
            "o_year",
            F.round(
                F.col("_target").cast("double") / F.col("_all").cast("double"), 6
            ).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


def supplier_part_counts(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    excl_brand: str = "Brand#13",
    sizes: tuple = (1, 5, 9, 13, 17, 21, 25, 29),
) -> DataFrame:
    """TPC-H Q16-shaped supplier diversity: distinct suppliers able to
    supply each (brand, size) combination, excluding one brand and
    suppliers in bad standing (negative account balance — the
    schema-adapted complaints predicate).

    Scale design: the part dim filters prune lineitem map-side under a
    size-gated broadcast hint (part/supplier are SF-linear —
    maybe_broadcast); bad suppliers are a LEFT ANTI join (NOT IN
    without a shuffle); the count-distinct expands to per
    (brand, size, suppkey) map-side dedup so the shuffle carries
    distinct triples, not lineitems.
    """
    p = part.where(
        (F.col("p_brand") != excl_brand) & F.col("p_size").isin(*sizes)
    ).select("p_partkey", "p_brand", "p_size")
    bad = supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    li = (
        lineitem.select("l_partkey", "l_suppkey")
        .join(maybe_broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(maybe_broadcast(bad), F.col("l_suppkey") == bad.s_suppkey, "left_anti")
    )
    return (
        li.groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_size"))
    )


def customer_order_distribution(
    customer: DataFrame,
    orders: DataFrame,
    excl_priority: str = "1-URGENT",
) -> DataFrame:
    """TPC-H Q13-shaped distribution: how many customers placed exactly
    k (non-excluded) orders — INCLUDING the zero-order customers, which
    is what forces the outer join.

    Scale design: the join carries the filtered orders against the
    customer spine (LEFT OUTER on custkey — one fact shuffle); counting
    ``o_orderkey`` (not *) makes unmatched customers count 0 in the
    same aggregate, which reuses the join's custkey partitioning.  The
    second aggregate collapses to |distinct counts| rows, map-side
    combined.
    """
    o = orders.where(F.col("o_orderpriority") != excl_priority).select(
        "o_orderkey", "o_custkey"
    )
    per_cust = (
        customer.select("c_custkey")
        .join(o, customer.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def returned_item_customers(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    date_lo: str = "1996-01-01",
    date_hi: str = "1996-04-01",
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10-shaped top-k: customers ranked by revenue of RETURNED
    lineitems for orders placed in one quarter.

    Scale design: the date filter pushes into the orders scan and the
    returnflag filter into the lineitem scan BEFORE either shuffles;
    lineitem⋈orders on orderkey and the custkey aggregate are the two
    unavoidable fact exchanges; customer/nation dims join AFTER the
    aggregate (|customers-with-returns| rows, AQE broadcasts); top-k is
    TakeOrderedAndProject.  Revenue in DECIMAL.
    """
    lo = F.lit(date_lo).cast("timestamp")
    hi = F.lit(date_hi).cast("timestamp")
    o = orders.where(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    ).select("o_orderkey", "o_custkey")
    li = lineitem.where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(rev_decimal()).cast("double").alias("revenue"))
    )
    c = customer.select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    n = nation.select("n_nationkey", "n_name")
    return (
        rev.join(c, rev.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(k)
    )


def forecast_revenue_change(
    lineitem: DataFrame,
    date_lo: str = "1996-01-01",
    date_hi: str = "1997-01-01",
    disc_lo: float = 0.05,
    disc_hi: float = 0.07,
    max_qty: float = 24.0,
) -> DataFrame:
    """TPC-H Q6-shaped what-if: revenue that would be lost by dropping
    discounts in a band, for one year, below a quantity ceiling.

    Scale design: this is THE scan-pushdown showcase — all three
    predicates (date range, discount band, quantity ceiling) reach the
    parquet reader as PushedFilters, the scan reads 4 columns of 11,
    and the whole query is one map-side-combined DECIMAL aggregate with
    no shuffle beyond the final 1-row reduce.  The discount-band
    boundaries compare in DECIMAL so 0.05/0.07 behave as exact cents,
    not nearest doubles.
    """
    lo = F.lit(date_lo).cast("timestamp")
    hi = F.lit(date_hi).cast("timestamp")
    disc = F.col("l_discount").cast("decimal(25,2)")
    filtered = lineitem.where(
        (F.col("l_shipdate") >= lo)
        & (F.col("l_shipdate") < hi)
        & (disc >= F.lit(disc_lo).cast("decimal(25,2)"))
        & (disc <= F.lit(disc_hi).cast("decimal(25,2)"))
        & (F.col("l_quantity") < max_qty)
    )
    return filtered.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(25,2)") * disc)
        .cast("double")
        .alias("revenue"),
    )


def late_shipment_priority(
    orders: DataFrame,
    lineitem: DataFrame,
    late_days: int = 90,
) -> DataFrame:
    """TPC-H Q12-shaped two-way conditional count: for LATE lineitems
    (shipped > ``late_days`` after the order date — the schema-adapted
    receipt>commit predicate), how many belong to high-priority orders
    vs low, per linestatus.

    Scale design: one orderkey equi-join (the only shuffle; the late
    predicate rides the join as a residual condition), then ONE
    conditional aggregate computes both priority classes in a single
    pass — never two scans or a self-join union.
    """
    o = orders.select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = lineitem.select("l_orderkey", "l_linestatus", "l_shipdate")
    late = li.join(
        o,
        (li.l_orderkey == o.o_orderkey)
        & (
            li.l_shipdate
            > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS")
        ),
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        late.groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def funnel_counts(
    events: DataFrame,
    steps: tuple = ("view", "click", "purchase"),
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel analysis: how many users reached each step IN
    ORDER (view → click → purchase), where "reached step k" means the
    user's earliest step-k event after having completed steps 1..k-1.

    Semantics: step 1 time = min ts of step-1 events; step k time =
    min ts of step-k events STRICTLY AFTER the user's step-(k-1) time.
    This is the strict sequential funnel (a purchase before any click
    does not count as conversion).

    Scale design: one conditional-min aggregate + join per step, ALL
    keyed on the user column — the aggregate output and both join sides
    share one hash partitioning, so after the first exchange of the
    type-filtered events the chain adds no full re-shuffles of the fact
    side (each step joins the per-user step table, |users| rows, not
    events).  Map-side combine collapses each user's events before the
    wire; the final count is a 1-row reduce.
    """
    typed = events.where(F.col(type_col).isin(*steps)).select(
        F.col(user_col).alias("_u"), F.col(type_col).alias("_t"), F.col(ts_col).alias("_ts")
    )
    # step-1 time per user
    per_user = typed.groupBy("_u").agg(
        F.min(F.when(F.col("_t") == steps[0], F.col("_ts"))).alias("_s0")
    )
    cur = per_user
    for k in range(1, len(steps)):
        prev = f"_s{k - 1}"
        nxt = f"_s{k}"
        stepk = (
            typed.where(F.col("_t") == steps[k])
            .join(cur.select("_u", prev), "_u")
            .where(F.col("_ts") > F.col(prev))
            .groupBy("_u")
            .agg(F.min("_ts").alias(nxt))
        )
        cur = cur.join(stepk, "_u", "left")
    aggs = [
        F.count(F.col(f"_s{k}")).alias(f"n_step{k + 1}") for k in range(len(steps))
    ]
    out = cur.agg(*aggs)
    return out.select(
        *[F.col(f"n_step{k + 1}") for k in range(len(steps))]
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_weeks: int = 8,
) -> DataFrame:
    """Weekly retention cohorts: users grouped by FIRST-activity week;
    for each (cohort week, weeks since) how many of them were active —
    the standard growth-analytics triangle.

    Scale design: first-activity week is one (user)-keyed aggregate;
    activity weeks are the per-(user, week) distinct pairs (map-side
    dedup so the shuffle carries pairs, not events); the cohort join
    keys on user and reuses the first aggregate's partitioning; the
    final (cohort, offset) aggregate is tiny.

    Output: (cohort_week, weeks_since, n_users).
    """
    wk = F.date_trunc("week", F.col(ts_col))
    activity = events.select(
        F.col(user_col).alias("_u"), wk.alias("_w")
    ).distinct()
    first = activity.groupBy("_u").agg(F.min("_w").alias("_cohort"))
    joined = activity.join(first, "_u")
    weeks_since = (
        (F.unix_timestamp("_w") - F.unix_timestamp("_cohort")) / (7 * 24 * 3600)
    ).cast("long")
    return (
        joined.where(weeks_since < max_weeks)
        .groupBy(F.col("_cohort").alias("cohort_week"), weeks_since.alias("weeks_since"))
        .agg(F.countDistinct("_u").alias("n_users"))
        .orderBy("cohort_week", "weeks_since")
    )


def revenue_pivot(
    lineitem: DataFrame,
    flags: tuple = ("A", "N", "R"),
) -> DataFrame:
    """Year × returnflag revenue matrix via PIVOT — the wide-format
    report shape (one column per category, one row per year).

    Scale design: Spark compiles pivot-with-explicit-values to ONE
    aggregate with a conditional expression per pivot column — a single
    shuffle on the group key, no per-category scan or join.  Explicit
    ``flags`` keep the plan static (omitting them costs an extra
    distinct-values job and makes the schema data-dependent — never do
    that at scale).  DECIMAL revenue, cast to double per cell.
    """
    return (
        lineitem.groupBy(F.year("l_shipdate").alias("ship_year"))
        .pivot("l_returnflag", list(flags))
        .agg(F.sum(rev_decimal()).cast("double"))
        .orderBy("ship_year")
    )


def window_rate_spikes(
    events: DataFrame,
    window: str = "1 hour",
    trail: int = 24,
    mult: float = 2.0,
    min_trail: int = 8,
) -> DataFrame:
    """Windowed rate-spike detection: flag (window, type) cells whose
    event count exceeds ``mult`` × the trailing-``trail``-window mean —
    the monitoring query a streaming pipeline materializes next to its
    windowed aggregates.

    Scale design: the windowed aggregate is one shuffle; the trailing
    mean is a ROWS frame over (type)-partitioned window starts —
    |window cells| rows, not events, so the second exchange is tiny.
    The spike rule is integer-vs-exact-mean arithmetic (sum of longs /
    count, one double division) — no stddev, so any engine reproduces
    the boundary bit-for-bit.  Cells with < ``min_trail`` prior windows
    are unflagged (insufficient history), matching the oracle.

    Output: (window_start, event_type, n_events, trailing_mean,
    spike).
    """
    from pyspark.sql.window import Window as W

    cells = (
        events.groupBy(
            F.window("ts", window).alias("_w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("_w.start").alias("window_start"), "event_type", "n_events")
    )
    spec = (
        W.partitionBy("event_type")
        .orderBy("window_start")
        .rowsBetween(-trail, -1)
    )
    nprior = F.count("n_events").over(spec)
    # guard: an empty trailing frame (first cell per type) would divide
    # by zero under ANSI mode — NULL mean, never-spike instead
    tmean = F.when(nprior > 0, F.sum("n_events").over(spec) / nprior)
    return cells.select(
        "window_start",
        "event_type",
        "n_events",
        F.round(tmean, 6).alias("trailing_mean"),
        ((nprior >= min_trail) & (F.col("n_events") > tmean * mult)).alias("spike"),
    )


def json_props_stats(
    events: DataFrame,
    props_col: str = "props",
    type_col: str = "event_type",
) -> DataFrame:
    """Semi-structured column handling: parse the JSON ``props`` payload
    with an explicit schema and aggregate the extracted field per type.

    Scale design: ``from_json`` with a STATIC schema is a map-side JVM
    expression fused into the scan (never ``schema_of_json`` over the
    data — that's an extra pass and a data-dependent schema); the
    aggregate is one shuffle on the type key.  Corrupt/missing payloads
    parse to NULL and are counted separately rather than dropped.

    Output: (event_type, n_with_k, n_null_k, sum_k, avg_k).
    """
    k = F.from_json(F.col(props_col), "k INT")["k"]
    return (
        events.select(F.col(type_col), k.alias("_k"))
        .groupBy(type_col)
        .agg(
            F.count("_k").alias("n_with_k"),
            F.sum(F.when(F.col("_k").isNull(), 1).otherwise(0)).alias("n_null_k"),
            F.sum("_k").cast("long").alias("sum_k"),
            F.round(F.sum("_k") / F.count("_k"), 6).alias("avg_k"),
        )
        .orderBy(type_col)
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-user event-type transition counts (the Markov matrix of user
    behaviour): for each consecutive pair in a user's timeline, count
    (prev_type → type).

    Scale design: ONE user-keyed exchange + in-partition sort feeds the
    ``lag`` window; the transition aggregate reuses nothing heavier
    than the (prev, curr) pair count, map-side combined.  The ordering
    key (ts, event_id) is unique, so the timeline — and therefore the
    matrix — is fully deterministic.

    Output: (prev_type, event_type, n_transitions).
    """
    from pyspark.sql.window import Window as W

    w = W.partitionBy(user_col).orderBy(ts_col, id_col)
    prev = F.lag(type_col).over(w)
    return (
        events.select(F.col(type_col), prev.alias("prev_type"))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", type_col)
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy("prev_type", type_col)
    )


def winsorized_spend(
    orders: DataFrame,
    customer: DataFrame,
    lo_q: float = 0.05,
    hi_q: float = 0.95,
) -> DataFrame:
    """Outlier-robust per-segment spend: each market segment's mean
    order price after winsorizing (clamping) to that segment's
    [lo_q, hi_q] percentiles — the value-cleaning step that keeps a
    handful of mega-orders from dominating a feature.

    Scale design: percentiles and the clamped mean need the same
    per-segment pass, but Spark computes BOTH aggregates over one
    shuffle: the exact percentile aggregate first (segments are
    bounded-cardinality, so the sort buffer is safe — the documented
    approx_percentile swap-in applies otherwise), then the clamp+mean
    re-joins the |segments|-row percentile table broadcast-style.
    DECIMAL-summed mean, 6-dp round.

    Output: (segment, p_lo, p_hi, n_orders, winsorized_avg).
    """
    seg = orders.join(
        customer.select("c_custkey", "c_mktsegment"),
        orders.o_custkey == F.col("c_custkey"),
    ).select(F.col("c_mktsegment").alias("segment"), "o_totalprice")
    pct = seg.groupBy("segment").agg(
        F.expr(f"percentile(o_totalprice, {lo_q})").alias("p_lo"),
        F.expr(f"percentile(o_totalprice, {hi_q})").alias("p_hi"),
    )
    clamped = seg.join(F.broadcast(pct), "segment").select(
        "segment",
        "p_lo",
        "p_hi",
        F.least(F.greatest(F.col("o_totalprice"), F.col("p_lo")), F.col("p_hi")).alias("_v"),
    )
    return (
        clamped.groupBy("segment")
        .agg(
            F.round(F.first("p_lo"), 6).alias("p_lo"),
            F.round(F.first("p_hi"), 6).alias("p_hi"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("_v").cast("decimal(25,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("winsorized_avg"),
        )
        .orderBy("segment")
    )


def gap_fill_daily(
    orders: DataFrame,
    key_col: str = "o_orderpriority",
    ts_col: str = "o_orderdate",
    val_col: str = "o_totalprice",
) -> DataFrame:
    """Time-series gap filling: densify each key's daily revenue onto a
    complete calendar spine and forward-fill days with no orders — the
    regularization step before any fixed-step feature (moving averages,
    lag matrices) can be computed.

    Scale design: the spine is built from ONE 2-row-per-key aggregate
    (min/max day) exploded with ``sequence`` — never a driver-side date
    loop — so spine size is |keys| × days, independent of fact-table
    row count.  The fact aggregate and the spine join share the
    (key, day) shuffle key; the forward fill is a per-key ordered
    window (``last`` with ``ignorenulls``), which parallelizes across
    keys — there is no global single-partition sort.  At 100 TB the
    per-key day range is bounded (years, not rows), so window state
    stays small.

    Output: (key, day, revenue, filled_revenue, is_gap).
    """
    from pyspark.sql.window import Window as W

    day = F.to_date(ts_col)
    daily = (
        orders.select(F.col(key_col).alias("key"), day.alias("day"), F.col(val_col))
        .groupBy("key", "day")
        .agg(F.sum(F.col(val_col).cast("decimal(25,2)")).alias("_rev"))
    )
    spine = (
        daily.groupBy("key")
        .agg(F.min("day").alias("_lo"), F.max("day").alias("_hi"))
        .select("key", F.explode(F.sequence("_lo", "_hi")).alias("day"))
    )
    w = W.partitionBy("key").orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return (
        spine.join(daily, ["key", "day"], "left")
        .select(
            "key",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round(F.col("_rev").cast("double"), 2).alias("revenue"),
            F.round(
                F.last("_rev", ignorenulls=True).over(w).cast("double"), 2
            ).alias("filled_revenue"),
            F.col("_rev").isNull().alias("is_gap"),
        )
        .orderBy("key", "day")
    )


def daily_topk_types(
    events: DataFrame,
    k: int = 3,
    ts_col: str = "ts",
    type_col: str = "event_type",
    val_col: str = "value",
) -> DataFrame:
    """Trending leaderboard: each day's top-k event types by count
    (ties broken by type name for determinism), with their share of
    the day's traffic.

    Scale design: one (day, type) hash aggregate (map-side combined),
    then the rank window partitions by day — thousands of independent
    partitions, no global sort.  The per-day totals reuse the same
    aggregate via a window sum over the tiny (day × type) table rather
    than a second scan of the fact table.

    Output: (day, rank, event_type, n_events, share).
    """
    from pyspark.sql.window import Window as W

    day = F.date_format(ts_col, "yyyy-MM-dd")
    per = (
        events.select(day.alias("day"), F.col(type_col))
        .groupBy("day", type_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    wday = W.partitionBy("day")
    ranked = per.withColumn(
        "rank",
        F.row_number().over(
            wday.orderBy(F.col("n_events").desc(), F.col(type_col))
        ),
    ).withColumn("_tot", F.sum("n_events").over(wday))
    return (
        ranked.where(F.col("rank") <= k)
        .select(
            "day",
            "rank",
            type_col,
            "n_events",
            F.round(F.col("n_events") / F.col("_tot"), 6).alias("share"),
        )
        .orderBy("day", "rank")
    )


def latest_per_key(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    tie_col: str = "event_id",
) -> DataFrame:
    """CDC-style compaction: the newest record per key — the operator
    that turns an append-only change feed into current state (upsert
    materialization, snapshot compaction).

    Scale design: ONE hash exchange on the key feeds a per-key
    ``max_by`` aggregate — no global sort, no window over an unsorted
    feed; ``max_by`` with the (ts, id) tie-break struct is map-side
    combined, so each partition contributes one candidate row per key
    it sees.  This is strictly cheaper than the row_number()-over-
    window form (which must materialize and sort every version).

    Output: latest (key, event_id, event_type, value, ts) per key.
    """
    ord_key = F.struct(F.col(ts_col), F.col(tie_col))
    row = F.struct("event_id", "event_type", "value", ts_col)
    return (
        events.groupBy(F.col(key_col))
        .agg(F.max_by(row, ord_key).alias("_r"))
        .select(
            key_col,
            F.col("_r.event_id").alias("event_id"),
            F.col("_r.event_type").alias("event_type"),
            F.col("_r.value").alias("value"),
            F.col(f"_r.{ts_col}").alias(ts_col),
        )
        .orderBy(key_col)
    )


def scd2_intervals(
    events: DataFrame,
    key_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    tie_col: str = "event_id",
) -> DataFrame:
    """SCD Type-2 dimension build: turn a change feed into validity
    intervals — each key's state with [valid_from, valid_to) bounds,
    open intervals marked current.  The warehouse operator behind
    "what was this user's tier on March 3rd" (pairs with x5's as-of
    join on the query side).

    Scale design: ONE key-partitioned ordered window computes both the
    change filter (``lag`` — drop rows whose state equals the previous
    row's, collapsing runs) and the interval close (``lead`` over the
    collapsed rows).  Everything rides the same (key) exchange; no
    self-join of the feed against itself.

    Output: (key, state, valid_from, valid_to, is_current).
    """
    from pyspark.sql.window import Window as W

    w = W.partitionBy(key_col).orderBy(ts_col, tie_col)
    collapsed = (
        events.select(
            F.col(key_col).alias("key"), F.col(state_col).alias("state"),
            F.col(ts_col).alias("valid_from"), F.col(tie_col).alias("_tie"),
        )
        .withColumn("_prev", F.lag("state").over(
            W.partitionBy("key").orderBy("valid_from", "_tie")))
        .where(F.col("_prev").isNull() | (F.col("_prev") != F.col("state")))
    )
    w2 = W.partitionBy("key").orderBy("valid_from", "_tie")
    return (
        collapsed.withColumn("valid_to", F.lead("valid_from").over(w2))
        .select(
            "key", "state", "valid_from", "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
        .orderBy("key", "valid_from")
    )


def price_histogram(
    orders: DataFrame,
    n_buckets: int = 20,
    val_col: str = "o_totalprice",
    lo: float = 0.0,
    hi: float = 600000.0,
) -> DataFrame:
    """Equi-width histogram of a value column with fixed [lo, hi)
    bounds — the one-pass distribution profile (dashboards, drift
    checks, bin-packing decisions).

    Scale design: ``width_bucket`` is a map-side expression; the
    histogram is ONE hash aggregate on a ≤ n_buckets+2 key space
    (underflow→0, overflow→n+1), so the reduce is bounded regardless
    of row count.  Fixed bounds (not data-dependent min/max) keep it
    single-pass; pair with a prior 1-row min/max aggregate when bounds
    must adapt.

    Output: (bucket, lo_edge, hi_edge, n_rows).
    """
    width = (hi - lo) / n_buckets
    b = F.width_bucket(F.col(val_col), F.lit(lo), F.lit(hi), F.lit(n_buckets))
    return (
        orders.select(b.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "bucket",
            F.round(F.lit(lo) + (F.col("bucket") - 1) * width, 6).alias("lo_edge"),
            F.round(F.lit(lo) + F.col("bucket") * width, 6).alias("hi_edge"),
            "n_rows",
        )
        .orderBy("bucket")
    )


def _synthetic_supplycost():
    """Deterministic stand-in for TPC-H ps_supplycost (the schema has no
    partsupp table): an integer derived from the (part, supplier) pair,
    identical arithmetic in the DuckDB oracle."""
    return (F.col("l_partkey") * 7 + F.col("l_suppkey") * 3) % 1000 + 1


def product_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    part: DataFrame,
    name_like: str = "%red%",
) -> DataFrame:
    """TPC-H Q9 (product-type profit) over a SYNTHESIZED supply cost:
    per (nation, order-year) profit = Σ price·(1−disc) − cost·qty for
    parts matching ``name_like``.  partsupp doesn't exist in this
    schema, so ps_supplycost is a deterministic function of the
    (part, supplier) pair — the join/aggregate shape is exactly Q9's.

    Scale design: part (filtered by the name predicate BEFORE the
    join) and supplier take size-gated broadcast hints (SF-linear —
    maybe_broadcast); nation broadcasts unconditionally (25 rows);
    lineitem shuffles once on
    orderkey for the orders join; profit accumulates in DECIMAL.

    Output: (nation, o_year, sum_profit).
    """
    p = part.filter(F.col("p_name").like(name_like)).select("p_partkey")
    cost = _synthetic_supplycost().cast("decimal(25,2)")
    qty = F.col("l_quantity").cast("decimal(25,2)")
    profit = rev_decimal() - cost * qty
    return (
        lineitem.join(maybe_broadcast(p), lineitem.l_partkey == p.p_partkey)
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(maybe_broadcast(supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


def excess_stock_suppliers(
    lineitem: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    name_like: str = "%red%",
    date_lo: str = "1996-01-01",
    date_hi: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q20 (excess inventory) over a SYNTHESIZED availqty:
    suppliers holding more than half a year's shipped quantity of any
    matching part.  availqty is a deterministic function of the
    (part, supplier) pair — the decorrelated-subquery shape is Q20's.

    Scale design: the year's shipments aggregate per (part, supplier)
    pair once (map-side combined on the natural key); the name filter
    broadcasts into that aggregate's input; the surviving pair list is
    a LEFT SEMI join into supplier — no correlated re-scan per
    supplier.

    Output: (suppkey, s_name).
    """
    p = part.filter(F.col("p_name").like(name_like)).select("p_partkey")
    # synthetic availqty bounded at 20 units and compared against the FULL
    # year's shipped quantity, so the predicate actually discriminates on
    # this data (the classic half-year form passes every pair here)
    avail = (F.col("l_partkey") * 11 + F.col("l_suppkey") * 5) % 20
    shipped = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_lo))
            & (F.col("l_shipdate") < F.lit(date_hi))
        )
        .join(maybe_broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(25,2)")).alias("_qty"))
        .filter(avail.cast("decimal(25,2)") > F.col("_qty"))
        .select(F.col("l_suppkey").alias("_sk"))
        .distinct()
    )
    return (
        supplier.join(shipped, supplier.s_suppkey == F.col("_sk"), "left_semi")
        .select(F.col("s_suppkey").alias("suppkey"), "s_name")
        .orderBy("suppkey")
    )


def sketch_aggregates(
    events: DataFrame,
    type_col: str = "event_type",
    user_col: str = "user_id",
    val_col: str = "value",
    rel_tol: float = 0.05,
) -> DataFrame:
    """The sketch aggregates that replace their exact forms at 100 TB —
    ``approx_count_distinct`` (HyperLogLog++: fixed memory, mergeable
    partials) and ``approx_percentile`` (t-digest) — computed alongside
    the exact answers with a per-group tolerance check.

    At scale the EXACT forms are the problem (count-distinct buffers
    the key set per group; exact percentile sorts it); the sketches are
    one map-side-combined pass each.  The output exposes the exact
    values (oracle-checkable) plus booleans pinning the sketch within
    ``rel_tol`` — so the driver's correctness gate verifies both the
    exact math AND that the sketch path stays calibrated.

    Output: (event_type, n_users_exact, hll_ok, p50_exact, tdigest_ok).
    """
    p50_exact = F.expr(f"percentile({val_col}, 0.5)")
    p50_approx = F.expr(f"approx_percentile({val_col}, 0.5, 1000)")
    # rsd=0.01 (≈10k registers — still fixed memory) keeps the sketch
    # 5σ inside the 5% tolerance; the default rsd=0.05 EQUALS the
    # tolerance, so ~1/3 of groups would fail it at any cardinality
    # large enough to leave HLL's exact sparse mode (seen at sf0.1)
    hll = F.approx_count_distinct(user_col, 0.01)
    exact = F.count_distinct(F.col(user_col))
    return (
        events.groupBy(type_col)
        .agg(
            exact.alias("n_users_exact"),
            (
                F.abs(hll - exact) <= F.lit(rel_tol) * exact
            ).alias("hll_ok"),
            F.round(p50_exact, 6).alias("p50_exact"),
            (
                F.abs(p50_approx - p50_exact) <= F.lit(rel_tol) * F.abs(p50_exact)
            ).alias("tdigest_ok"),
        )
        .orderBy(type_col)
    )


def rolling_distinct_users(
    events: DataFrame,
    window_days: int = 7,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Rolling N-day distinct users (the WAU curve): for each day, how
    many distinct users were active in the trailing ``window_days``
    window ending that day.

    Distinct counts don't sum across days, so the rolling window can't
    reuse daily aggregates; the EXACT distributed form dedupes to
    (user, day) pairs first — collapsing event volume to at most
    |users|×|days| rows — then fans each pair out to the ≤N window
    end-days it supports and distinct-counts per end-day.  Two
    shuffles, both on bounded keyspaces; the fan-out constant is N,
    never data-sized.  (The sketch alternative at extreme scale: daily
    HLL sketches merged over the window — x47's family.)

    Output: (day, n_active_users) for days with any activity window.
    """
    day = F.to_date(ts_col)
    pairs = events.select(F.col(user_col).alias("u"), day.alias("d")).distinct()
    bounds = events.select(day.alias("_d")).agg(
        F.min("_d").alias("_lo"), F.max("_d").alias("_hi")
    )
    fanned = (
        pairs.select(
            "u",
            F.explode(
                F.sequence(F.col("d"), F.date_add(F.col("d"), window_days - 1))
            ).alias("end_day"),
        )
        .crossJoin(F.broadcast(bounds))
        .where((F.col("end_day") >= F.col("_lo")) & (F.col("end_day") <= F.col("_hi")))
    )
    return (
        fanned.groupBy(F.date_format("end_day", "yyyy-MM-dd").alias("day"))
        .agg(F.count_distinct(F.col("u")).alias("n_active_users"))
        .orderBy("day")
    )


def mad_outliers(
    orders: DataFrame,
    customer: DataFrame,
    k: float = 3.0,
) -> DataFrame:
    """Robust outlier detection per segment: flag orders more than
    ``k`` median-absolute-deviations from their segment's median —
    the robust z-score that, unlike mean/stddev, a few mega-orders
    can't drag.

    Scale design: two grouped EXACT percentile passes (median, then
    median of |x − median|) over bounded-cardinality segments — each
    one shuffle, the second over the same key; the |segments|-row
    stats tables broadcast back into the flagging pass.  For unbounded
    groups swap in approx_percentile (x47's t-digest family).

    Output: (segment, n_orders, median, mad, n_outliers).
    """
    seg = orders.join(
        customer.select("c_custkey", "c_mktsegment"),
        orders.o_custkey == F.col("c_custkey"),
    ).select(F.col("c_mktsegment").alias("segment"), "o_totalprice")
    med = seg.groupBy("segment").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("_med")
    )
    dev = seg.join(F.broadcast(med), "segment").select(
        "segment", "o_totalprice", "_med",
        F.abs(F.col("o_totalprice") - F.col("_med")).alias("_adev"),
    )
    mad = dev.groupBy("segment").agg(F.expr("percentile(_adev, 0.5)").alias("_mad"))
    return (
        dev.join(F.broadcast(mad), "segment")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.first("_med"), 6).alias("median"),
            F.round(F.first("_mad"), 6).alias("mad"),
            F.sum(
                (F.abs(F.col("o_totalprice") - F.col("_med"))
                 > F.lit(k) * F.col("_mad")).cast("long")
            ).alias("n_outliers"),
        )
        .orderBy("segment")
    )


def revenue_pareto(
    orders: DataFrame,
    n_tiles: int = 10,
) -> DataFrame:
    """Pareto / concentration profile: customers bucketed into revenue
    deciles (decile 1 = biggest spenders), each decile's share of total
    revenue — the 80/20 analysis.

    Scale design: NO global rank window (a single-partition sort at
    scale).  Instead: per-customer revenue (one shuffle on custkey),
    EXACT decile thresholds from one percentile aggregate
    (n_tiles-1 values, a driver-size result), threshold assignment as
    a broadcast map-side comparison, and a bounded n_tiles-key final
    aggregate.  Ties at a threshold go to the lower (richer) decile,
    matching the SQL oracle's comparison direction.

    Output: (decile, n_customers, revenue, share).
    """
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(25,2)")).alias("_rev")
    )
    qs = [i / n_tiles for i in range(1, n_tiles)]
    thresholds = per.agg(
        *[
            F.expr(f"percentile(CAST(_rev AS DOUBLE), {q})").alias(f"_t{i}")
            for i, q in enumerate(qs, start=1)
        ]
    )
    # decile = n_tiles - (number of thresholds strictly below _rev); the
    # richest customers sit above every threshold → decile 1
    above = sum(
        (F.col("_rev").cast("double") > F.col(f"_t{i}")).cast("int")
        for i in range(1, n_tiles)
    )
    total = per.agg(F.sum("_rev").alias("_tot"))
    return (
        per.crossJoin(F.broadcast(thresholds))
        .select("_rev", (F.lit(n_tiles) - above).alias("decile"))
        .crossJoin(F.broadcast(total))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("_rev").cast("double"), 2).alias("revenue"),
            F.round(
                F.sum("_rev").cast("double") / F.first("_tot").cast("double"), 6
            ).alias("share"),
        )
        .orderBy("decile")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "o_orderkey",
    compare_cols: tuple = ("o_totalprice", "o_orderpriority"),
) -> DataFrame:
    """Keyed table diff between two snapshots: which rows were added,
    removed, or changed — the reconciliation operator behind CDC
    validation, backfill audits, and "what did yesterday's rerun
    change".

    Scale design: ONE full-outer join on the key (both sides shuffle
    once); change detection compares an md5 over the tracked columns
    computed map-side BEFORE the join, so wide rows never carry their
    payload through the exchange — only (key, digest) moves.

    Output: (key, change_type) for added / removed / changed rows
    (unchanged rows are dropped — the diff is the output).
    """
    def digest(df):
        return df.select(
            F.col(key_col).alias("key"),
            F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in compare_cols])).alias("_h"),
        )

    o = digest(old).withColumnRenamed("_h", "_ho")
    n = digest(new).withColumnRenamed("_h", "_hn")
    joined = o.join(n, "key", "full_outer")
    change = (
        F.when(F.col("_ho").isNull(), F.lit("added"))
        .when(F.col("_hn").isNull(), F.lit("removed"))
        .when(F.col("_ho") != F.col("_hn"), F.lit("changed"))
    )
    return (
        joined.select("key", change.alias("change_type"))
        .where(F.col("change_type").isNotNull())
        .orderBy("key")
    )


def segment_trend(
    orders: DataFrame,
    customer: DataFrame,
) -> DataFrame:
    """Per-segment revenue trend: the OLS slope (revenue per day) of
    daily segment revenue over time, from closed-form sums — the trend
    feature a forecast or anomaly job consumes.

    Scale design: one (segment, day) aggregate collapses the fact
    table, then the regression reduces with FIVE map-side-combined
    sums (n, Σx, Σy, Σxy, Σx²) per segment — no window, no sort, no
    second pass.  x is the integer epoch day and y the DECIMAL daily
    revenue, so every sum is exact; only the final slope division is
    floating point (rounded).

    Output: (segment, n_days, slope).
    """
    seg = orders.join(
        customer.select("c_custkey", "c_mktsegment"),
        orders.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("_x"),
        F.col("o_totalprice"),
    )
    daily = seg.groupBy("segment", "_x").agg(
        F.sum(F.col("o_totalprice").cast("decimal(25,2)")).alias("_y")
    )
    sums = daily.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x").cast("long") * F.col("_x")).alias("_sxx"),
    )
    num = F.col("n_days") * F.col("_sxy").cast("double") - F.col("_sx").cast(
        "double"
    ) * F.col("_sy").cast("double")
    den = (
        F.col("n_days") * F.col("_sxx").cast("double")
        - F.col("_sx").cast("double") * F.col("_sx").cast("double")
    )
    return sums.select(
        "segment", "n_days", F.round(num / den, 6).alias("slope")
    ).orderBy("segment")


def revenue_unpivot(
    lineitem: DataFrame,
    flags: tuple = ("A", "N", "R"),
) -> DataFrame:
    """UNPIVOT: melt the x37 wide revenue matrix back to tidy long form
    (ship_year, returnflag, revenue) — the inverse reshape, via
    ``stack`` (one map-side expression per row, no join and no
    shuffle beyond the matrix's own aggregate).  NULL cells (category
    absent in a year) are dropped, the standard melt contract.

    Output: (ship_year, returnflag, revenue).
    """
    wide = revenue_pivot(lineitem, flags)
    n = len(flags)
    pairs = ", ".join(f"'{f}', `{f}`" for f in flags)
    return (
        wide.select(
            "ship_year",
            F.expr(f"stack({n}, {pairs}) as (returnflag, revenue)"),
        )
        .where(F.col("revenue").isNotNull())
        .orderBy("ship_year", "returnflag")
    )


def zorder_key(a, b, bits: int = 16):
    """Morton (Z-order) key: interleave the low ``bits`` of two integer
    columns — the multi-dimensional clustering key that keeps records
    close in BOTH dimensions close in the file order, so parquet
    row-group min/max stats prune scans filtered on EITHER column.

    Pure map-side bit arithmetic (a sum of shifted bit tests — no UDF,
    no loop at runtime), reproducible in any engine.
    """
    a = a.cast("long")
    b = b.cast("long")
    key = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(a, i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b, i).bitwiseAND(F.lit(1))
        key = key + F.shiftleft(abit, 2 * i) + F.shiftleft(bbit, 2 * i + 1)
    return key


def zorder_layout_stats(
    orders: DataFrame,
    bits: int = 10,
    n_files: int = 16,
) -> DataFrame:
    """Z-order clustering demo over (custkey, order-day): assign every
    order its Morton key, split the keyspace into ``n_files`` equal
    z-ranges (the files a clustered write would produce), and report
    each range's min/max of BOTH dimensions — the zone map that makes
    either-column filters prune.

    The point shown by the output: unlike a single-column sort (where
    the second column's min/max spans everything in every file), each
    z-range covers a narrow box in BOTH custkey and day, so a filter
    on either dimension eliminates most ranges by stats alone.

    Output: (zfile, n_rows, min_cust, max_cust, min_day, max_day).
    """
    day = F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01"))
    mask = (1 << bits) - 1
    keyed = orders.select(
        F.col("o_custkey").bitwiseAND(F.lit(mask)).alias("_c"),
        day.bitwiseAND(F.lit(mask)).alias("_d"),
    ).select(
        "_c", "_d", zorder_key(F.col("_c"), F.col("_d"), bits).alias("_z")
    )
    span = 1 << (2 * bits)
    zfile = F.floor(F.col("_z") * n_files / F.lit(span)).cast("long")
    return (
        keyed.groupBy(zfile.alias("zfile"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("_c").alias("min_cust"),
            F.max("_c").alias("max_cust"),
            F.min("_d").alias("min_day"),
            F.max("_d").alias("max_day"),
        )
        .orderBy("zfile")
    )


def copurchase_pairs(
    lineitem: DataFrame,
    min_support: int = 3,
    max_basket: int = 50,
) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought together in the
    same order, with support (co-count) and directional confidence —
    the association-mining primitive behind "frequently bought
    together".

    Scale design: the self-join keys on the natural basket id
    (orderkey) — the inverted-index shape again; ``max_basket`` drops
    degenerate baskets before the join (a k-item basket emits k²/2
    pairs), bounding fan-out.  Support counts and per-item totals are
    map-side-combined aggregates; confidence = support/count(a) joins
    the frequent-pair table against the per-item count table — whose
    cardinality is |distinct parts| (UNBOUNDED in SF), so its broadcast
    hint is size-gated via maybe_broadcast: past the gate both sides
    shuffle on part_a and AQE picks the strategy.

    Output: (part_a, part_b, support, confidence) with part_a < part_b,
    support >= min_support; confidence is P(b in basket | a in basket).
    """
    items = lineitem.select(
        F.col("l_orderkey").alias("_o"), F.col("l_partkey").alias("_p")
    ).distinct()
    sizes = items.groupBy("_o").agg(F.count(F.lit(1)).alias("_sz"))
    items = items.join(
        sizes.where(F.col("_sz") <= max_basket).select("_o"), "_o"
    )
    counts = items.groupBy("_p").agg(F.count(F.lit(1)).alias("_n"))
    a = items.select("_o", F.col("_p").alias("part_a"))
    b = items.select("_o", F.col("_p").alias("part_b"))
    pairs = (
        a.join(b, "_o")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= min_support)
    )
    return (
        pairs.join(
            maybe_broadcast(counts.withColumnRenamed("_p", "part_a")), "part_a"
        )
        .select(
            "part_a",
            "part_b",
            "support",
            F.round(F.col("support") / F.col("_n"), 6).alias("confidence"),
        )
        .orderBy("part_a", "part_b")
    )


def incremental_agg_merge(
    base_events: DataFrame,
    delta_events: DataFrame,
    type_col: str = "event_type",
) -> DataFrame:
    """Incremental materialized-view maintenance: merge a delta batch
    into an existing per-type aggregate WITHOUT rescanning history —
    union the stored partials with the delta's partials and reduce.
    count/sum/min/max are all mergeable, so the refresh costs
    O(|delta| + |keys|), the property that makes nightly full recompute
    unnecessary.

    The result provably equals the full recompute (the oracle runs the
    full form); DECIMAL sums make the merge order-insensitive.

    Output: (event_type, n_events, sum_value, min_value, max_value).
    """
    def partial(df):
        return df.groupBy(type_col).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,2)")).alias("_s"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )

    return (
        partial(base_events)
        .unionByName(partial(delta_events))
        .groupBy(type_col)
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("_s").cast("double"), 2).alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
        .orderBy(type_col)
    )


def data_quality_report(orders: DataFrame) -> DataFrame:
    """Declarative data-quality rule sweep (the Great-Expectations
    shape): evaluate every rule in ONE pass over the table — each rule
    is a conditional aggregate, so adding rules never adds scans — plus
    a uniqueness check that reuses the same shuffle-free count pair.

    Rules here: key non-null, key unique, positive amounts, priority in
    its domain, dates within the loadable range.

    Output: (rule, n_violations, passed).
    """
    dom = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    agg = orders.agg(
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("null_key"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("nonpos_price"),
        F.sum((~F.col("o_orderpriority").isin(dom)).cast("long")).alias("bad_priority"),
        F.sum(
            (
                (F.col("o_orderdate") < F.lit("1990-01-01"))
                | (F.col("o_orderdate") >= F.lit("2030-01-01"))
            ).cast("long")
        ).alias("bad_date"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col("o_orderkey")).alias("n_keys"),
    )
    r = agg.select(
        F.col("null_key"),
        F.col("nonpos_price"),
        F.col("bad_priority"),
        F.col("bad_date"),
        (F.col("n_rows") - F.col("n_keys")).alias("dup_key"),
    )
    rules = [
        ("orderkey_unique", "dup_key"),
        ("custkey_not_null", "null_key"),
        ("orderdate_in_range", "bad_date"),
        ("priority_in_domain", "bad_priority"),
        ("totalprice_positive", "nonpos_price"),
    ]
    out = None
    for name, col in rules:
        row = r.select(
            F.lit(name).alias("rule"),
            F.col(col).alias("n_violations"),
            (F.col(col) == 0).alias("passed"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("rule")


def equidepth_histogram(
    orders: DataFrame,
    n_buckets: int = 10,
    val_col: str = "o_totalprice",
) -> DataFrame:
    """Equi-DEPTH histogram: bucket edges at exact quantiles so every
    bucket holds ~the same row count — the histogram an optimizer's
    statistics collector builds (equi-width x44 starves the tails;
    equi-depth resolves them).

    Same no-global-sort scheme as x50: ONE percentile aggregate
    produces the n−1 edges (driver-size), assignment is a broadcast
    map-side comparison, and the final aggregate has ≤ n keys.
    Ties at an edge go to the lower bucket, mirrored by the oracle.

    Output: (bucket, lo_edge, hi_edge, n_rows) with open-ended first/
    last edges reported as the observed min/max.
    """
    qs = [i / n_buckets for i in range(1, n_buckets)]
    # ONE array-percentile aggregate: a separate percentile() per edge
    # would buffer the whole column once PER EDGE (n−1 sort buffers);
    # the array form sorts one buffer and reads all n−1 quantiles off it
    arr = "array(" + ", ".join(repr(q) for q in qs) + ")"
    edges = orders.agg(
        F.expr(f"percentile({val_col}, {arr})").alias("_qarr"),
        F.min(val_col).alias("_e0"),
        F.max(val_col).alias(f"_e{n_buckets}"),
    ).select(
        "_e0",
        f"_e{n_buckets}",
        *[
            F.element_at(F.col("_qarr"), i).alias(f"_e{i}")
            for i in range(1, n_buckets)
        ],
    )
    above = sum(
        (F.col(val_col) > F.col(f"_e{i}")).cast("int") for i in range(1, n_buckets)
    )
    return (
        orders.select(val_col)
        .crossJoin(F.broadcast(edges))
        .select((above + 1).alias("bucket"), *[F.col(f"_e{i}") for i in range(n_buckets + 1)])
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.first(F.col("_e0")), 6).alias("_lo0"),
            *[
                F.round(F.first(F.col(f"_e{i}")), 6).alias(f"_k{i}")
                for i in range(1, n_buckets + 1)
            ],
        )
        .select(
            "bucket",
            F.round(
                F.element_at(
                    F.array(F.col("_lo0"), *[F.col(f"_k{i}") for i in range(1, n_buckets + 1)]),
                    F.col("bucket").cast("int"),
                ),
                6,
            ).alias("lo_edge"),
            F.round(
                F.element_at(
                    F.array(F.col("_lo0"), *[F.col(f"_k{i}") for i in range(1, n_buckets + 1)]),
                    (F.col("bucket") + 1).cast("int"),
                ),
                6,
            ).alias("hi_edge"),
            "n_rows",
        )
        .orderBy("bucket")
    )


def cube_pricing(lineitem: DataFrame) -> DataFrame:
    """CUBE rollup of the Q1 pricing aggregate: every grouping set of
    (returnflag, linestatus) — per-pair, per-flag, per-status, and the
    grand total — in ONE pass (the BI drill-up surface; at scale a CUBE
    is one shuffle with map-side partials per grouping set, never four
    scans).  Subtotal rows mark the rolled-up dimension 'ALL' (the
    fixture columns are non-null, so the marker is unambiguous — with
    nullable dims use GROUPING() instead).

    Output: (l_returnflag, l_linestatus, n_items, sum_qty, sum_price),
    ordered by the two dims with 'ALL' rows sorting after the values.
    """
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n_items",
            "sum_qty",
            "sum_price",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
