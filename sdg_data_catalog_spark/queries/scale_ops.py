"""Scale-path physical-layout operators (PERF.md 'deltas to revisit'):
bucketed co-located joins, partition-pruned layouts, and salted skew joins.

None of these change query SEMANTICS — each oracle is the plain relational
answer — they change the PHYSICAL plan so the same answer survives a 100 TB
scale-up: bucketing removes the per-query shuffle from repeated fact-fact
joins, partitioned layouts turn predicates into directory pruning, salting
splits a hot key across tasks. The reference has no analog (single-process
pandas never shuffles); these are the operators a Spark deployment of its
pipeline would need on day one at scale.

tests/test_plans.py asserts the physical properties (no Exchange under the
bucketed join; PartitionFilters on the pruned scan).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sdg_data_catalog_spark.catalog import table
from sdg_data_catalog_spark.queries.registry import register
from sdg_data_catalog_spark.sources.formats import SCRATCH as _SCRATCH
from sdg_data_catalog_spark.sources.formats import table_safe_sf_name as _sf_name


# Bucketed-layout version marker: bump when the column set / bucket count
# changes so stale on-disk layouts rebuild instead of silently missing
# columns. v2 = 32 buckets + the q18/q3 columns.
_BUCKET_LAYOUT_VERSION = "v2"

_BUCKET_SPECS = {
    # table-name prefix -> (source table, columns, bucket column)
    "li_bkt": (
        "lineitem",
        ("l_orderkey", "l_extendedprice", "l_quantity", "l_discount", "l_shipdate"),
        "l_orderkey",
    ),
    "o_bkt": (
        "orders",
        ("o_orderkey", "o_orderpriority", "o_custkey", "o_totalprice", "o_orderdate"),
        "o_orderkey",
    ),
}


def bucketed_layout_on_disk(sf_dir: str) -> bool:
    """True when the current-version 32-bucket orderkey layouts for this
    scale factor already exist on disk (ingest-time cost already paid).
    Pure filesystem probe — never builds anything; a session that sees
    True can register the external tables with DDL only (cheap)."""
    sfn = _sf_name(sf_dir)
    return all(
        os.path.isfile(
            os.path.join(
                _SCRATCH, sfn, f"{prefix}_data", f"_LAYOUT_{_BUCKET_LAYOUT_VERSION}"
            )
        )
        for prefix in _BUCKET_SPECS
    )


def _ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> None:
    """Make the 32-bucket orderkey layouts available in THIS session.

    The write is paid once per scale factor: if the bucketed files already
    exist on disk with the current layout version, a fresh session registers
    them with CREATE TABLE ... CLUSTERED BY DDL (external table over the
    same files) instead of rewriting — the bench/driver sessions then reuse
    the layout the way a real warehouse would (ingest-time cost, amortized
    across the workload)."""
    sfn = _sf_name(sf_dir)
    for prefix, (src, cols, key) in _BUCKET_SPECS.items():
        tbl = f"{prefix}_{sfn}"
        path = os.path.join(_SCRATCH, sfn, f"{prefix}_data")
        marker = os.path.join(path, f"_LAYOUT_{_BUCKET_LAYOUT_VERSION}")
        if spark.catalog.tableExists(tbl):
            if set(cols) <= set(spark.table(tbl).columns):
                continue
            spark.sql(f"DROP TABLE {tbl}")
        if os.path.isfile(marker):
            src_df = table(spark, sf_dir, src).select(*cols)
            ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in src_df.schema.fields)
            spark.sql(
                f"CREATE TABLE {tbl} ({ddl}) USING PARQUET "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO 32 BUCKETS "
                f"LOCATION '{path}'"
            )
            continue
        shutil.rmtree(path, ignore_errors=True)
        (
            table(spark, sf_dir, src)
            .select(*cols)
            .write.bucketBy(32, key).sortBy(key)
            .option("path", path)
            .mode("overwrite").saveAsTable(tbl)
        )
        with open(marker, "w") as fh:
            fh.write(_BUCKET_LAYOUT_VERSION)


@register(
    "join_bucketed",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(CAST(SUM(l_extendedprice) AS DOUBLE), 2) AS total_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact-fact join via bucketing. Both sides are written
    `bucketBy(32, orderkey).sortBy(orderkey)`; the join then reads bucket i
    against bucket i — SortMergeJoin with ZERO Exchange (asserted in
    tests/test_plans.py). At 100 TB this converts every repeated l⋈o join
    from a full dual-shuffle into a local merge per bucket pair; the one-off
    layout cost amortizes across the workload. `hint('merge')` pins SMJ so
    the demo shows the bucketed path even where the small side would
    broadcast at test scale."""
    sfn = _sf_name(sf_dir)
    li_tbl, o_tbl = f"li_bkt_{sfn}", f"o_bkt_{sfn}"
    _ensure_bucketed_tables(spark, sf_dir)
    li = spark.table(li_tbl)
    o = spark.table(o_tbl)
    joined = li.hint("merge").join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
    )


def bucketed_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw bucketed join (pre-aggregation) — used by the plan test to
    assert the join subtree has no Exchange."""
    join_bucketed(spark, sf_dir)  # ensure tables exist
    sfn = _sf_name(sf_dir)
    li = spark.table(f"li_bkt_{sfn}")
    o = spark.table(f"o_bkt_{sfn}")
    return li.hint("merge").join(o, F.col("l_orderkey") == F.col("o_orderkey"))


@register(
    "scan_partition_pruned",
    oracle="""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE source IN ('src3', 'src7')
    GROUP BY source
    """,
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition pruning. Documents are
    written `partitionBy('source')`; the source predicate then prunes
    directories BEFORE any I/O (PartitionFilters in the scan node, asserted
    in tests/test_plans.py) — at 100 TB, a predicate on the partition column
    reads 2/20ths of the dataset instead of filtering post-scan."""
    path = os.path.join(_SCRATCH, _sf_name(sf_dir), "docs_by_source")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        (
            table(spark, sf_dir, "documents")
            .write.partitionBy("source").mode("overwrite").parquet(path)
        )
    docs = spark.read.parquet(path)
    return (
        docs.filter(F.col("source").isin("src3", "src7"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


def partition_pruned_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw pruned scan for the plan test."""
    scan_partition_pruned(spark, sf_dir)  # ensure layout exists
    path = os.path.join(_SCRATCH, _sf_name(sf_dir), "docs_by_source")
    return spark.read.parquet(path).filter(F.col("source") == "src3").select("doc_id")


@register(
    "join_salted",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 2) AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join: the fact side gets a deterministic salt
    (orderkey % 8) appended to the join key; the dim side is exploded into
    all 8 salt replicas; the join runs on (key, salt), splitting any hot
    key's rows across 8 tasks instead of one straggler. Semantics are
    identical to the plain join (the oracle). AQE's skew-join handles
    moderate skew automatically; explicit salting is the tool for the
    pathological keys AQE's split threshold misses. `hint('merge')` keeps
    the exercise honest at test scale (dim would otherwise broadcast —
    broadcasting is of course the first fix for a skewed dim join)."""
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    n_salt = 8
    fact = orders.withColumn("salt", (F.col("o_orderkey") % n_salt).cast("int"))
    dim = customer.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    joined = fact.hint("merge").join(
        dim, (F.col("o_custkey") == F.col("c_custkey")) & (fact["salt"] == dim["salt"])
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


# Date-clustered layout (round 9): the five >2x-of-DuckDB headline queries
# all bottleneck on lineitem/orders scan+filter cost, and every one of them
# carries a date-range predicate. Range-clustering the fact tables on their
# date columns at ingest makes every row group's footer min/max selective,
# so the scan decodes only the row groups the predicate touches — at 100 TB
# the difference between scanning a month and scanning the decade, paid
# once at write time. Same economics as the orderkey bucket layout above:
# built once per scale factor on first use by q3_clustered / q6_clustered,
# which return the identical relational answer.
_DATE_LAYOUT_VERSION = "v1"

_DATE_SPECS = {
    # prefix -> (source table, columns, range-cluster column)
    "li_sd": (
        "lineitem",
        ("l_orderkey", "l_extendedprice", "l_quantity", "l_discount", "l_shipdate"),
        "l_shipdate",
    ),
    "o_od": (
        "orders",
        ("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
        "o_orderdate",
    ),
}


def _date_layout_path(sf_dir: str, prefix: str) -> str:
    return os.path.join(_SCRATCH, _sf_name(sf_dir), f"{prefix}_data")


def _ensure_date_clustered(spark: SparkSession, sf_dir: str) -> None:
    """Write the date-clustered fact copies once per scale factor:
    repartitionByRange(32, date) + sortWithinPartitions(date), so each
    file covers a narrow shipdate/orderdate span and the sort inside
    each file makes parquet page column indexes selective too."""
    for prefix, (src, cols, key) in _DATE_SPECS.items():
        path = _date_layout_path(sf_dir, prefix)
        marker = os.path.join(path, f"_LAYOUT_{_DATE_LAYOUT_VERSION}")
        if os.path.isfile(marker):
            continue
        shutil.rmtree(path, ignore_errors=True)
        (
            table(spark, sf_dir, src)
            .select(*cols)
            .repartitionByRange(32, key)
            .sortWithinPartitions(key)
            .write.mode("overwrite")
            .parquet(path)
        )
        with open(marker, "w") as fh:
            fh.write(_DATE_LAYOUT_VERSION)


def _date_clustered(spark: SparkSession, sf_dir: str, prefix: str) -> DataFrame:
    _ensure_date_clustered(spark, sf_dir)
    return spark.read.parquet(_date_layout_path(sf_dir, prefix))


def _q3_clustered_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q3 over the date-clustered layout: same logical plan as
    relational.q3_shipping_priority (broadcast BUILDING customers onto
    orders, size-gated broadcast of the filtered ords onto lineitem,
    join-then-agg, TakeOrdered top-10) — but both fact scans read the
    range-clustered copies, so the o_orderdate < 1995-03-15 predicate
    skips ~60% of orders row groups and the l_shipdate > 1995-03-15
    predicate skips ~45% of lineitem row groups via footer min/max
    before any decode happens."""
    from sdg_data_catalog_spark.queries.relational import _fits_broadcast

    customer = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _date_clustered(spark, sf_dir, "o_od").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    lineitem = _date_clustered(spark, sf_dir, "li_sd").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    ords = orders.join(
        F.broadcast(customer.select("c_custkey")),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select("o_orderkey", "o_orderdate")
    if _fits_broadcast(sf_dir, "q3_ords", "orders", ords):
        ords = F.broadcast(ords)
    return (
        lineitem.join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


def _q6_clustered_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q6 over the shipdate-clustered lineitem: the 1995-only range
    predicate touches ~15% of the clustered row groups, so ~85% of the
    table is skipped on footer stats — the purest demonstration of why
    the layout exists (same single global agg, same answer)."""
    li = _date_clustered(spark, sf_dir, "li_sd")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        ).agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def _register_date_clustered_twins() -> None:
    """q3_clustered / q6_clustered share the plain relational oracles —
    layout must never change results. Registered via a deferred hook so
    the oracle constants come from relational without an import cycle."""
    from sdg_data_catalog_spark.queries.relational import _Q3_ORACLE, _Q6_ORACLE

    register("q3_clustered", oracle=_Q3_ORACLE)(_q3_clustered_impl)
    register("q6_clustered", oracle=_Q6_ORACLE)(_q6_clustered_impl)


_register_date_clustered_twins()


@register(
    "sink_range_clustered",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(CAST(SUM(l_quantity) AS DOUBLE), 2) AS sum_qty,
           ROUND(CAST(SUM(l_extendedprice) AS DOUBLE), 2) AS sum_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
)
def sink_range_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered data layout: `repartitionByRange` +
    `sortWithinPartitions` on l_shipdate before the parquet write, so each
    output file covers a narrow, near-disjoint shipdate span and every
    row group's footer min/max statistics are selective. A later
    date-range scan then skips whole row groups in the reader (and whole
    files via footer stats) instead of decoding the full table — at 100 TB
    this is the difference between scanning a month and scanning the
    decade, bought with ONE extra range shuffle at write time. The
    clustering invariant (file spans near-disjoint, each file's span ≪
    the global span) is asserted from the parquet footers in
    tests/test_plans.py; the read-back aggregate is oracle-checked against
    the unclustered original — layout must never change results."""
    from sdg_data_catalog_spark.sources.formats import io_dir

    path = io_dir(sf_dir, "lineitem_range_clustered", fresh=False)
    if not os.path.exists(path):
        (
            table(spark, sf_dir, "lineitem")
            .select("l_shipdate", "l_quantity", "l_extendedprice")
            .repartitionByRange(8, "l_shipdate")
            .sortWithinPartitions("l_shipdate")
            .write.parquet(path)
        )
    back = spark.read.parquet(path).filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


def _zvalue(c1, c2, bits: int = 16):
    """Morton/Z-order interleave of two pre-quantized integer columns —
    pure JVM bit expressions (shiftleft/shiftright/bitwiseAND), no UDF."""
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        b1 = F.shiftright(c1, i).bitwiseAND(F.lit(1))
        b2 = F.shiftright(c2, i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(b1, 2 * i + 1)).bitwiseOR(F.shiftleft(b2, 2 * i))
    return z


@register(
    "sink_zorder_clustered",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(CAST(SUM(l_quantity) AS DOUBLE), 2) AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-03-01'
      AND l_shipdate <  TIMESTAMP '1996-06-01'
      AND l_partkey BETWEEN 100 AND 300
    """,
)
def sink_zorder_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustered layout over TWO dimensions
    (l_shipdate, l_partkey): quantize each to 16 bits, interleave the bits
    into a single z-value with JVM shift/mask expressions, then
    repartitionByRange + sort on z before the parquet write. Unlike the
    single-key range clustering (sink_range_clustered) — which makes
    shipdate footers selective but leaves every file spanning ALL partkeys
    — the space-filling curve gives every file partial locality in BOTH
    dimensions, so a 2-dim predicate box skips row groups on either
    column's min/max stats. This is the OPTIMIZE ZORDER technique of
    Delta/Iceberg, expressed as plain columnar arithmetic; the per-file
    span contraction on both dims is asserted from parquet footers in
    tests/test_plans.py, and the read-back aggregate is oracle-checked
    against the unclustered original."""
    from sdg_data_catalog_spark.sources.formats import io_dir

    path = io_dir(sf_dir, "lineitem_zorder", fresh=False)
    if not os.path.exists(path):
        li = table(spark, sf_dir, "lineitem").select(
            "l_shipdate", "l_partkey", "l_quantity"
        )
        rng = li.agg(
            F.min(F.unix_timestamp("l_shipdate")).alias("ts_lo"),
            F.max(F.unix_timestamp("l_shipdate")).alias("ts_hi"),
            F.min("l_partkey").alias("pk_lo"),
            F.max("l_partkey").alias("pk_hi"),
        )
        scale = (1 << 16) - 1
        with_z = (
            li.crossJoin(F.broadcast(rng))
            .withColumn(
                "q_ts",
                F.floor(
                    (F.unix_timestamp("l_shipdate") - F.col("ts_lo"))
                    * scale
                    / F.greatest(F.col("ts_hi") - F.col("ts_lo"), F.lit(1))
                ).cast("bigint"),
            )
            .withColumn(
                "q_pk",
                F.floor(
                    (F.col("l_partkey") - F.col("pk_lo"))
                    * scale
                    / F.greatest(F.col("pk_hi") - F.col("pk_lo"), F.lit(1))
                ).cast("bigint"),
            )
            .withColumn("z", _zvalue(F.col("q_ts"), F.col("q_pk")))
        )
        (
            with_z.repartitionByRange(8, "z")
            .sortWithinPartitions("z")
            .select("l_shipdate", "l_partkey", "l_quantity")
            .write.parquet(path)
        )
    back = spark.read.parquet(path).filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-06-01").cast("timestamp"))
        & F.col("l_partkey").between(100, 300)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "agg_bucketed",
    oracle="""
    SELECT l_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(CAST(SUM(l_extendedprice) AS DOUBLE), 2) AS order_total
    FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(l_extendedprice) > 250000
    """,
)
def agg_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free aggregation from a bucketed layout — the scale answer to
    the unfiltered fact-table groupBy (the q18 shape, reference analog:
    pandas groupby over the whole corpus). The bucketed lineitem table
    (bucketBy(8, l_orderkey), shared with join_bucketed) reports
    HashPartitioning(l_orderkey) from the scan, so the groupBy(l_orderkey)
    needs NO Exchange — asserted in tests/test_plans.py. At 100 TB this
    removes the full-fact-table shuffle that dominates q18's cost
    (BENCH/PERF: 4.9 s of 13.6 s at sf10 is that one exchange); the layout
    cost is paid once and amortized across every per-order aggregation and
    orderkey join in the workload."""
    join_bucketed(spark, sf_dir)  # ensure the bucketed tables exist
    li = spark.table(f"li_bkt_{_sf_name(sf_dir)}")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("order_total"),
        )
        .filter(F.col("order_total") > 250000)
    )


def bucketed_agg_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw bucketed aggregation for the plan test (no-Exchange assert)."""
    join_bucketed(spark, sf_dir)  # ensure tables exist
    li = spark.table(f"li_bkt_{_sf_name(sf_dir)}")
    return li.groupBy("l_orderkey").agg(F.sum("l_extendedprice").alias("s"))


@register(
    "q18_bucketed",
    oracle="""
    SELECT c_name, o_orderkey, o_orderdate,
           ROUND(CAST(o_totalprice AS DOUBLE), 2) AS o_totalprice,
           ROUND(CAST(sum_qty AS DOUBLE), 2) AS sum_qty
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN (SELECT l_orderkey, SUM(l_quantity) AS sum_qty FROM lineitem
          GROUP BY l_orderkey HAVING SUM(l_quantity) > 150) q
      ON o_orderkey = q.l_orderkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 on the bucketed lineitem layout: the full-fact groupBy —
    the single dominant exchange in plain q18_large_orders (the unfiltered
    per-orderkey quantity sum) — reads the bucketBy(32, l_orderkey) table
    and aggregates with NO Exchange (scan reports HashPartitioning;
    plan-gated in tests/test_plans.py::test_q18_bucketed_agg_no_exchange).
    Orders reads the SAME 32-bucket o_orderkey layout, so the orders⋈big
    join is bucket-i-against-bucket-i with no Exchange on either side; the
    only remaining shuffle work is the (broadcast) customer join and the
    20-row TakeOrdered. Same oracle as q18_large_orders — layout changes
    the physical plan, never the answer. At 100 TB the bucketed layout is
    paid once at ingest and every per-order aggregation or orderkey join
    in the workload rides it shuffle-free.

    sf10 floor profile (2026-08-14, min-of-3 with GC barriers, slower
    boot): scan+sum of l_quantity alone 0.48 s → adding the per-orderkey
    hash map (60 M rows → ~15 M groups, bucket-local) 1.46 s → +HAVING
    1.52 s → full query (orders join + customer + top-20) 2.38 s, vs
    DuckDB ~0.9 s whole-query. The ~1 s group-map term IS the query's
    semantics (every order's quantity must be summed before the
    predicate can drop it) — no plan change removes it, only faster
    hash-agg machinery would; the bucketed layout already deleted the
    exchange that used to dominate. Same irreducible-floor class as
    q1's decode profile."""
    join_bucketed(spark, sf_dir)  # ensure the bucketed tables exist
    sfn = _sf_name(sf_dir)
    li = spark.table(f"li_bkt_{sfn}")
    orders = spark.table(f"o_bkt_{sfn}")
    customer = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    # shuffle_hash (not merge): both sides already share the bucket
    # partitioning, so the join is local either way — but SMJ would SORT
    # 15M aggregated rows AND 15M orders per bucket just to merge them,
    # while a per-bucket hash build of the post-HAVING sliver is near-free.
    return (
        orders.join(big.hint("shuffle_hash"), F.col("o_orderkey") == F.col("l_orderkey"))
        # shuffle-hash beats broadcasting the full 1.5M-row customer dim
        # (the default static pick): the post-HAVING sliver and customer
        # both shuffle once on custkey — measured 3.2 → 2.4 s at sf10 —
        # and the choice stays safe at any scale (no unbounded broadcast).
        .join(customer.hint("shuffle_hash"), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("sum_qty", 2).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@register(
    "q5_bucketed",
    oracle="""
    SELECT n_name,
           ROUND(CAST(SUM(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS line_count
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q5_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 on the bucketed layout — the amortized twin of
    q5_revenue_by_nation (same oracle). Both fact scans read the
    bucketBy(32, orderkey) tables, so the orderkey join is bucket-local
    shuffle-hash with ZERO Exchange on either fact side: the
    (o_orderkey, n_name) build side is orders semi-join-reduced by the
    broadcast customer/nation/region chain (broadcast preserves the
    bucket partitioning), and the shipdate-filtered lineitem probes it
    directly. Aggregation happens ONCE, by n_name AFTER the join — 25
    groups, partial map-side, one tiny shuffle.

    The earlier form pre-aggregated lineitem per orderkey before the
    join; with the bucket layout that pre-agg buys nothing (there is no
    exchange for it to shrink) and costs a ~|orderkeys|-entry hash
    table per run — measured sf10 A/B (min-of-3 ×2 interleaved,
    2026-08-14): join-then-agg 1.35-1.42 s vs pre-agg 1.75-1.99 s,
    identical results. Contrast q18_bucketed, where the per-orderkey
    agg IS the query and stays. This is the plan a warehouse runs daily
    at 100 TB: every orderkey join rides the ingest-time layout.

    Component-floor profile at sf10 (r6, interleaved min-of-5 with GC
    barriers): build leg (orders scan → broadcast-cust probe → project)
    0.51 s; probe leg (shipdate-filtered lineitem scan + bare agg)
    0.21 s; full plan 1.69 s — so ~1.0 s is the 6M-build/18M-probe
    bucket-local hash join itself. Join-strategy A/B at sf10 (min-of-4
    interleaved): shuffle_hash 1.83 s, sort-merge 2.00 s, broadcast-ordn
    5.35 s (a 6M-row broadcast build dwarfs the join it removes) —
    shuffle_hash on the bucketed layout IS the winning physical plan;
    the residual vs DuckDB (~0.6 s total) is the single-JVM columnar
    hash-join constant, not a plan defect. Re-profiled r11 with
    fresh-plan noop-write components (PERF.md §Round-11): probe leg
    0.39 s + build leg 0.65 s + join ~0.25 + final agg ~0.29 = 1.49 s
    full; a join-first/dims-after rewrite (int-only build side) was
    A/B'd and rejected (1.59 s, identical results); DuckDB's full query
    (0.33 s) runs below Spark's bare two-scan floor, so the sf10 letter
    is the committed per-query scan constant — it amortizes with scale
    (2.7x at sf100 on this same plan). The same interleaved run also
    re-measured adhoc-vs-bucketed at BOTH tiers: bucketed wins at sf0.1
    too (0.40 vs 0.51 s) — the r5 bench's contrary reading (headline
    0.75 vs adhoc 0.49) was run-order noise (headline ran first/cold)."""
    _ensure_bucketed_tables(spark, sf_dir)
    sfn = _sf_name(sf_dir)
    li = spark.table(f"li_bkt_{sfn}")
    orders = spark.table(f"o_bkt_{sfn}")
    customer = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    dim = (
        nation.join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name").isin("ASIA", "EUROPE"))
        .select("n_nationkey", "n_name")
    )
    cust = customer.join(
        F.broadcast(dim), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "n_name")
    ordn = orders.join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "n_name")
    fil = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        fil.join(ordn.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


@register(
    "sink_compact",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source
    """,
)
def sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance op every long-lived
    lake needs: streaming sinks and incremental upserts leave thousands of
    KB-scale files, and scan cost becomes per-file overhead instead of
    bytes (on object storage each file is a GET + footer parse). Simulate
    the damage (write documents as 64 fragments), then compact by
    repartitioning to a target file count derived from actual bytes /
     128 MB — the same sizing rule a real OPTIMIZE job uses; at 100 TB the
    repartition is a full shuffle, which is exactly the price of
    compaction and why it runs as scheduled maintenance, not inline.
    Asserts the read-back aggregate is unchanged (oracle) and the file
    count collapsed (tests/test_plans.py checks 64 → small)."""
    from sdg_data_catalog_spark.sources.formats import io_dir

    frag_dir = io_dir(sf_dir, "docs_fragmented")
    docs = table(spark, sf_dir, "documents")
    docs.repartition(64).write.parquet(frag_dir)

    frag = spark.read.parquet(frag_dir)
    n_bytes = sum(
        os.path.getsize(os.path.join(frag_dir, f))
        for f in os.listdir(frag_dir)
        if f.endswith(".parquet")
    )
    target_files = max(1, round(n_bytes / (128 << 20)))
    compact_dir = io_dir(sf_dir, "docs_compacted")
    frag.repartition(target_files).write.parquet(compact_dir)

    back = spark.read.parquet(compact_dir)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def compacted_file_count(sf_dir: str) -> tuple[int, int]:
    """(fragment_count, compacted_count) from the scratch dirs — test hook."""
    from sdg_data_catalog_spark.sources.formats import SCRATCH, sf_name

    base = os.path.join(SCRATCH, sf_name(sf_dir))
    count = lambda leaf: len(  # noqa: E731
        [f for f in os.listdir(os.path.join(base, leaf)) if f.endswith(".parquet")]
    )
    return count("docs_fragmented"), count("docs_compacted")


@register(
    "join_bloom_runtime",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(CAST(SUM(l_extendedprice) AS DOUBLE), 2) AS total_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
    """,
)
def join_bloom_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective fact⋈dim join written to let Catalyst's RUNTIME BLOOM
    FILTER protect the big side: when the filtered creation side is too big
    to broadcast (always true at 100 TB), the optimizer injects
    `might_contain(bloom_filter_agg(o_orderkey), xxhash64(l_orderkey))`
    into the lineitem scan, discarding ~3/4 of the fact rows BEFORE the
    join shuffle. At this test scale orders broadcasts (so the query runs
    the equally-good broadcast plan); `bloom_join_plan` below re-plans it
    under no-broadcast confs and tests/test_plans.py asserts the injected
    bloom subquery — the exact plan a 1000-executor run would execute."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


def bloom_join_plan(spark: SparkSession, sf_dir: str) -> str:
    """Formatted plan of join_bloom_runtime under the confs that model the
    100 TB regime (no broadcast possible, fact scan large enough to be worth
    protecting) — optimization is forced INSIDE the conf scope because the
    injection rule reads the confs at optimize time."""
    from sdg_data_catalog_spark.plans.inspect import formatted_plan
    from sdg_data_catalog_spark.session import conf_overrides

    df = join_bloom_runtime(spark, sf_dir)
    with conf_overrides(
        spark,
        **{
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        },
    ):
        return formatted_plan(df)


@register(
    "diag_partition_skew",
    oracle="""
    WITH sizes AS (
        SELECT user_id % 32 AS part_id, COUNT(*) AS n
        FROM events GROUP BY user_id % 32
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_partitions,
           CAST(MAX(n) AS BIGINT) AS max_rows,
           CAST(MIN(n) AS BIGINT) AS min_rows,
           ROUND(CAST(MAX(n) AS DOUBLE) / (CAST(SUM(n) AS DOUBLE) / COUNT(*)), 4)
               AS skew_ratio
    FROM sizes
    """,
)
def diag_partition_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnostic: per-partition row counts under the modeled
    partitioner (user_id mod 32 — deterministic and oracle-able, unlike
    murmur3) folded to a skew ratio (max/avg). This is the measurement that
    decides whether a key needs salting (join_salted) or AQE skew-split
    before a 100 TB run: skew_ratio ≈ 1 is healthy, ≥ 2 means the largest
    task runs 2× the average and the stage tail is that one straggler. Two
    tiny aggs (key-space sized, then 1 row) — the events table itself is
    touched once, map-side combined."""
    ev = table(spark, sf_dir, "events")
    sizes = ev.groupBy((F.col("user_id") % 32).alias("part_id")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return sizes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_partitions"),
        F.max("n").cast("bigint").alias("max_rows"),
        F.min("n").cast("bigint").alias("min_rows"),
        F.round(
            F.max("n").cast("double") / (F.sum("n").cast("double") / F.count(F.lit(1))), 4
        ).alias("skew_ratio"),
    )
