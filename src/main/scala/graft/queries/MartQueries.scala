package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Tables

/** Join-heavy mart queries in the classic warehouse shapes the reference's
  * analytics layer serves to dashboards (README "Analytics/OBT"): q34
  * (shipping-priority: selective filters + 2 joins + agg + rank) and q35
  * (regional volume: 5 joins + agg). Both are decimal-exact and
  * top-N-bounded so the oracle compare is deterministic.
  */
object MartQueries {

  /** q34: top 10 urgent-order revenue opportunities (TPC-H Q3 shape). */
  def q34ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1998-01-01"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1998-01-01"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("order_date"),
        col("o_orderpriority"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1) - col("l_discount").cast(DecimalType(4, 2)))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
      // rank on the exact decimal; emit canonical double (VERDICT r1 —
      // q34 happened to hash-match with mismatched decimal precision, but
      // identical physical schemas are the robust contract)
      .withColumn("revenue", col("revenue").cast(DoubleType))
  }

  def q34Oracle: String =
    """SELECT l_orderkey, order_date, o_orderpriority,
      |  CAST(revenue AS DOUBLE) AS revenue
      |FROM (
      |  SELECT l.l_orderkey, CAST(o.o_orderdate AS DATE) AS order_date,
      |    o.o_orderpriority,
      |    SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS revenue
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE c.c_mktsegment = 'BUILDING'
      |    AND o.o_orderdate < '1998-01-01'
      |    AND l.l_shipdate > '1998-01-01'
      |  GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
      |  -- rank on the EXACT decimal (as the Spark side does, casting only
      |  -- after limit): two decimals collapsing to one double must not
      |  -- change which rows clear the top-10 boundary
      |  ORDER BY revenue DESC, l.l_orderkey ASC
      |  LIMIT 10) t""".stripMargin

  /** q35: revenue by nation within one region-year (TPC-H Q5 shape —
    * the full dim chain joined back to the fact).
    */
  def q35RegionalVolume(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).select("l_orderkey", "l_suppkey",
      "l_extendedprice", "l_discount")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
      .select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name", "n_regionkey")
    val r = Tables.region(spark, dir)
      .filter(col("r_name") === "ASIA").select("r_regionkey")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      // no broadcast hint on supplier: it grows with SF (10k·SF rows) —
      // AQE broadcasts it at runtime only while it is actually small
      .join(s, l("l_suppkey") === s("s_suppkey") &&
        c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name").as("nation_name"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1) - col("l_discount").cast(DecimalType(4, 2)))).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lineitems"))
  }

  /** q36: large-basket customers (TPC-H Q18 shape): orders whose total
    * quantity exceeds a threshold, joined back to customer — the
    * aggregate-then-semi-join pattern (the aggregation prunes before the
    * joins, so only qualifying orders pay the join cost).
    */
  def q36BigBaskets(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity")
    val bigOrders = l.groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("total_qty"))
      .filter(col("total_qty") > 150)
    val o = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_name")
    bigOrders.join(o, col("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_name").as("customer_name"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date"),
        // passthrough money is still emitted canonical-double — the driver's
        // hasher diverges on decimal bytes even at matching precision
        col("o_totalprice").cast(DecimalType(18, 2)).cast(DoubleType).as("total_price"),
        // thresholded as the exact decimal sum; emitted as canonical double
        col("total_qty").cast(DoubleType).as("total_qty"))
  }

  def q36Oracle: String =
    """WITH big AS (
      |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
      |)
      |SELECT c.c_name AS customer_name, o.o_orderkey,
      |  CAST(o.o_orderdate AS DATE) AS order_date,
      |  CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
      |  CAST(big.total_qty AS DOUBLE) AS total_qty
      |FROM big
      |JOIN orders o ON big.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin

  /** q38: cheapest-shipment-per-part join-back (TPC-H Q2 shape): the
    * aggregate computes each part's minimum shipped price, then joins BACK
    * to the fact to recover who achieved it — the min-per-group-with-
    * attributes pattern that a plain groupBy cannot express. All
    * min-achieving (part, supplier) combinations are kept, as in Q2.
    * Scale: the min aggregate is partial-agg friendly and the join-back is
    * a same-key shuffle join the fact already partitions for; nation is
    * broadcast.
    */
  def q38CheapestSupplier(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey", "l_extendedprice")
    val p = Tables.part(spark, dir)
      .filter(col("p_size") < 15).select("p_partkey", "p_name")
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_name", "s_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    // distinct output names on the aggregate side: the join-back is a
    // self-derived join and unqualified l_partkey would be ambiguous
    val minPrice = l.groupBy(col("l_partkey").as("mp_partkey"))
      .agg(min(col("l_extendedprice")).as("min_price"))
    l.join(minPrice,
        l("l_partkey") === minPrice("mp_partkey") &&
          l("l_extendedprice") === minPrice("min_price"))
      .join(p, l("l_partkey") === p("p_partkey"))
      .join(s, l("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .select(col("p_partkey"), col("p_name"), col("s_name"),
        col("n_name").as("nation_name"), col("min_price"))
      .distinct()
  }

  def q38Oracle: String =
    """WITH mp AS (
      |  SELECT l_partkey, MIN(l_extendedprice) AS min_price
      |  FROM lineitem GROUP BY l_partkey
      |)
      |SELECT DISTINCT p.p_partkey, p.p_name, s.s_name,
      |  n.n_name AS nation_name, mp.min_price
      |FROM lineitem l
      |JOIN mp ON l.l_partkey = mp.l_partkey AND l.l_extendedprice = mp.min_price
      |JOIN part p ON l.l_partkey = p.p_partkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |WHERE p.p_size < 15""".stripMargin

  /** q39: top-2 orders per customer through [[graft.operators.TopK]]'s
    * k-bounded partial aggregation — the window-free ranking path,
    * oracle-checked against the row_number formulation it must match.
    */
  def q39TopOrdersPerCustomer(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TopK.perGroup(
      Tables.orders(spark, dir).select("o_orderkey", "o_custkey", "o_totalprice"),
      Seq("o_custkey"), sortCol = "o_totalprice", idCol = "o_orderkey", k = 2)

  def q39Oracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, rank FROM (
      |  SELECT o_orderkey, o_custkey, o_totalprice,
      |    CAST(row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rank
      |  FROM orders) t
      |WHERE rank <= 2""".stripMargin

  /** q40: distinct-count rollup (TPC-H Q16 shape): suppliers per part
    * type. count(DISTINCT) over a shuffled pre-dedup — partial-agg
    * friendly (Spark plans it as two-stage aggregate).
    */
  def q40SupplierTypeCounts(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir).select("l_partkey", "l_suppkey")
    val p = Tables.part(spark, dir).select("p_partkey", "p_type")
    l.join(p, l("l_partkey") === p("p_partkey"))
      .groupBy(col("p_type"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"),
        count(lit(1)).as("n_lineitems"))
  }

  def q40Oracle: String =
    """SELECT p.p_type, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt,
      |  COUNT(*) AS n_lineitems
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |GROUP BY p.p_type""".stripMargin

  /** q42: revenue by market segment through BUCKETED tables — the write
    * pays the shuffle once (hash-clustered on o_custkey), then the
    * orders⋈customer join runs co-located with no Exchange on either side
    * (asserted plan-level in BucketedSpec). The oracle computes the same
    * join from the raw tables: bucketing must never change semantics.
    */
  /** Per-process scratch dir for the bucketed tables, deleted at JVM exit
    * (per-pid paths never collide across concurrent JVMs, but without the
    * hook every bench/verify run would strand a copy in /tmp until the
    * disk fills).
    */
  private lazy val bucketedScratch: String = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed-${ProcessHandle.current().pid()}"
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(base))
    }))
    base
  }

  /** Distinct catalog names + scratch dirs per invocation: two q42 calls
    * racing in one JVM must not rewrite each other's in-catalog table
    * (VERDICT r3 nit 3). The per-pid parent dir's shutdown hook reclaims
    * every invocation's files.
    */
  private val q42Invocation = new java.util.concurrent.atomic.AtomicLong()

  def q42BucketedRevenue(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Bucketed
    val base = bucketedScratch
    val inv = q42Invocation.incrementAndGet()
    Bucketed.write(Tables.orders(spark, dir)
        .select(col("o_custkey"), col("o_totalprice")),
      s"graft_q42_orders_$inv", s"$base/q42_orders_$inv", "o_custkey", buckets = 8)
    Bucketed.write(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
      s"graft_q42_customer_$inv", s"$base/q42_customer_$inv", "c_custkey", buckets = 8)
    val o = Bucketed.read(spark, s"graft_q42_orders_$inv")
    val c = Bucketed.read(spark, s"graft_q42_customer_$inv")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_orders"))
  }

  /** q61: KEYLESS range join via interval bucketing — order totals
    * histogrammed into overlapping price bands (600 bands, 1500 wide,
    * step 1000; a point can fall in two). No equi-key exists, so the naive
    * join is a cartesian product; [[graft.operators.RangeJoin.bucketedKeyless]]
    * quantizes to width-1000 buckets and equi-joins on bucket id instead.
    */
  def q61PriceBands(spark: SparkSession, dir: String): DataFrame = {
    val bands = spark.range(0, 600).select(
      col("id").as("band_id"),
      (col("id") * 1000.0d).as("band_lo"),
      (col("id") * 1000.0d + 1500.0d).as("band_hi"))
    val orders = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    graft.operators.RangeJoin.bucketedKeyless(orders, bands,
        "o_totalprice", "band_lo", "band_hi", bucketWidth = 1000.0)
      .groupBy(col("band_id"), col("band_lo"), col("band_hi"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("total_price"))
  }

  def q61Oracle: String =
    """WITH bands AS (
      |  SELECT CAST(g.range AS BIGINT) AS band_id,
      |    CAST(g.range AS DOUBLE) * CAST(1000.0 AS DOUBLE) AS band_lo,
      |    CAST(g.range AS DOUBLE) * CAST(1000.0 AS DOUBLE) + CAST(1500.0 AS DOUBLE) AS band_hi
      |  FROM range(600) g
      |)
      |SELECT band_id, band_lo, band_hi, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders o JOIN bands b
      |  ON o.o_totalprice BETWEEN b.band_lo AND b.band_hi
      |GROUP BY 1, 2, 3""".stripMargin

  /** o_totalprice as exact integer cents. The Spark expression and its
    * DuckDB textual mirror below MUST stay in lockstep for the bitwise
    * oracle gate (q62/q63/q64 all build on it) — change them HERE only.
    */
  private def totalPriceCents(prefix: String = "") =
    (col(prefix + "o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")
  private def totalPriceCentsSql(prefix: String = "") =
    s"CAST(CAST(${prefix}o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** q62: exact discrete quantiles of order totals (in cents) via
    * [[graft.operators.Quantiles]]' running count
    * ([[graft.operators.PrefixSum]]) — integer arithmetic end-to-end, so
    * the DuckDB cumulative replay agrees exactly; no approx_percentile, no
    * single-partition window.
    */
  def q62PriceQuantiles(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Quantiles.exactDiscrete(
      Tables.orders(spark, dir),
      totalPriceCents(),
      qs = Seq(0.5, 0.9, 0.99))

  def q62Oracle: String =
    s"""WITH v AS (
      |  SELECT ${totalPriceCentsSql()} AS cents
      |  FROM orders WHERE o_totalprice IS NOT NULL
      |), n AS (
      |  SELECT COUNT(*) AS n FROM v
      |), counts AS (
      |  SELECT cents, COUNT(*) AS c FROM v GROUP BY 1
      |), cum AS (
      |  SELECT cents, SUM(c) OVER (ORDER BY cents) AS cumc FROM counts
      |), qs AS (
      |  SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS q
      |)
      |SELECT q, MIN(cents) AS value
      |FROM cum CROSS JOIN qs CROSS JOIN n
      |WHERE cumc >= CAST(CEIL(q * CAST(n AS DOUBLE)) AS BIGINT)
      |GROUP BY q""".stripMargin

  /** q63: per-segment exact quantiles — order-total cents p50/p95 per
    * market segment (orders ⋈ broadcast customer dim, then the group-
    * partitioned cumulative window — bounded per group, no global sort).
    */
  def q63SegmentQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_custkey"), col("o_totalprice"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"))
    val joined = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
    graft.operators.Quantiles.exactDiscretePerGroup(joined, "c_mktsegment",
      totalPriceCents(),
      qs = Seq(0.5, 0.95))
  }

  def q63Oracle: String =
    s"""WITH v AS (
      |  SELECT c.c_mktsegment,
      |    ${totalPriceCentsSql("o.")} AS cents
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE o.o_totalprice IS NOT NULL
      |), counts AS (
      |  SELECT c_mktsegment, cents, COUNT(*) AS c FROM v GROUP BY 1, 2
      |), cum AS (
      |  SELECT c_mktsegment, cents,
      |    SUM(c) OVER (PARTITION BY c_mktsegment ORDER BY cents) AS cumc,
      |    SUM(c) OVER (PARTITION BY c_mktsegment) AS n
      |  FROM counts
      |), qs AS (
      |  SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE)]) AS q
      |)
      |SELECT c_mktsegment, q, MIN(cents) AS value
      |FROM cum CROSS JOIN qs
      |WHERE cumc >= CAST(CEIL(q * CAST(n AS DOUBLE)) AS BIGINT)
      |GROUP BY 1, 2""".stripMargin

  /** q64: one-pass column profile of orders ([[graft.operators.Profiler]]):
    * row/null/distinct counts + min/max per column, floating price
    * pre-cast to exact cents so every rendered value is engine-stable.
    */
  def q64OrdersProfile(spark: SparkSession, dir: String): DataFrame = {
    // single-file parquet arrives as ONE split, and the profiler's Expand
    // rewrite multiplies rows x(cols+1) before the partial agg — spread
    // first (same lesson as q09's parse; SURVEY §5)
    val t = Tables.orders(spark, dir).repartition(col("o_orderkey")).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_orderpriority"), col("o_orderdate").cast("date").as("o_orderdate"),
      totalPriceCents().as("total_cents"))
    graft.operators.Profiler.profile(t, Seq("o_orderkey", "o_custkey",
      "o_orderstatus", "o_orderpriority", "o_orderdate", "total_cents"))
  }

  def q64Oracle: String = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority", "o_orderdate", "total_cents")
    val perCol = cols.map(c =>
      s"""SELECT '$c' AS column, COUNT(*) AS n_rows,
         |  COUNT(*) - COUNT($c) AS n_nulls,
         |  COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(MIN($c) AS VARCHAR) AS min_value,
         |  CAST(MAX($c) AS VARCHAR) AS max_value
         |FROM t""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH t AS (
       |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
       |    CAST(o_orderdate AS DATE) AS o_orderdate,
       |    ${totalPriceCentsSql()} AS total_cents
       |  FROM orders
       |)
       |$perCol""".stripMargin
  }

  /** q66: Z-order keys over (o_custkey, o_orderkey) — the layout key every
    * engine must agree on bit-for-bit for z-clustered tables to be
    * portable ([[graft.operators.ZOrder]]).
    */
  // 31 bits per dim (62-bit key): covers order keys to 2^31 — TPC-H keys
  // reach 6M·SF, so 22 bits would start raising around SF 0.7
  val ZBits = 31

  def q66ZorderKeys(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    o.withColumn("zkey",
      graft.operators.ZOrder.key(col("o_custkey"), col("o_orderkey"), ZBits))
  }

  def q66Oracle: String = {
    val terms = (0 until ZBits).map(i =>
      s"(((o_custkey >> $i) & 1) << ${2 * i}) + (((o_orderkey >> $i) & 1) << ${2 * i + 1})")
      .mkString("\n    + ")
    s"""SELECT o_orderkey, o_custkey,
       |  $terms AS zkey
       |FROM orders""".stripMargin
  }

  /** q67: exact-moment Pearson correlation between lineitem quantity and
    * extended price (in cents) — decimal-exact Σx/Σy/Σx²/Σy²/Σxy, one
    * fixed-order double readout ([[graft.operators.Stats.pearson]]);
    * engine-reproducible where builtin corr() is not.
    */
  def q67PriceQtyCorrelation(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.pearson(
      Tables.lineitem(spark, dir),
      col("l_quantity").cast(DecimalType(18, 0)),
      (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long"))

  def q67Oracle: String =
    """WITH d AS (
      |  SELECT CAST(l_quantity AS DECIMAL(18,0)) AS x,
      |    CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS DECIMAL(18,0)) AS y
      |  FROM lineitem
      |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
      |), m AS (
      |  SELECT COUNT(*) AS n,
      |    SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      |  FROM d
      |)
      |-- moments route DECIMAL->VARCHAR->DOUBLE: DuckDB's direct decimal
      |-- cast DOUBLE-ROUNDS values above 2^53 (off by 1 ulp vs Spark's
      |-- correctly-rounded Decimal.toDouble); string parsing is correctly
      |-- rounded in both engines
      |SELECT n,
      |  (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE)) /
      |    sqrt((CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE) - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) *
      |      (CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE) - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))) AS pearson_r
      |FROM m""".stripMargin

  def q42Oracle: String =
    """SELECT c.c_mktsegment,
      |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY c.c_mktsegment""".stripMargin

  /** q44: priority revenue rollup through [[graft.operators.Skew]]'s salted
    * join — the hot-key mitigation path, oracle-checked against the plain
    * join it must be value-equivalent to (salting redistributes rows,
    * never changes the join result).
    */
  def q44SaltedPriorityRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    graft.operators.Skew.saltedJoin(l, o, "l_orderkey", buckets = 4,
        saltSource = Seq("l_orderkey", "l_linenumber"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lineitems"))
  }

  def q44Oracle: String =
    """SELECT o.o_orderpriority,
      |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_lineitems
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY o.o_orderpriority""".stripMargin

  def q35Oracle: String =
    """SELECT n.n_name AS nation_name,
      |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_lineitems
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE r.r_name = 'ASIA'
      |  AND o.o_orderdate >= '1997-01-01' AND o.o_orderdate < '1998-01-01'
      |GROUP BY n.n_name""".stripMargin

  private val HistLo = 0L
  private val HistHi = 50000000L // order totals cap at ~$500k = 5e7 cents
  private val HistBuckets = 1000
  private val HistWidth = (HistHi - HistLo + HistBuckets - 1) / HistBuckets

  /** q85: approximate quantiles from the mergeable fixed-width histogram
    * sketch ([[graft.operators.Quantiles.approxByHistogram]]) — q62's
    * exact percentiles' scale sibling: one partial-agg pass whose
    * exchange carries ≤1000 bucket counts, error bounded by the $500
    * bucket width, counts merge by addition across days/partitions.
    * Integer arithmetic end-to-end; the oracle replays the histogram.
    */
  def q85ApproxQuantiles(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Quantiles.approxByHistogram(
      Tables.orders(spark, dir), totalPriceCents(),
      qs = Seq(0.5, 0.9, 0.99), lo = HistLo, hi = HistHi, buckets = HistBuckets)

  def q85Oracle: String =
    s"""WITH v AS (
       |  SELECT ${totalPriceCentsSql()} AS cents
       |  FROM orders WHERE o_totalprice IS NOT NULL
       |), b AS (
       |  SELECT LEAST(GREATEST((cents - $HistLo) // $HistWidth, 0), ${HistBuckets - 1}) AS b
       |  FROM v
       |), counts AS (
       |  SELECT b, COUNT(*) AS c FROM b GROUP BY 1
       |), cum AS (
       |  SELECT b, SUM(c) OVER (ORDER BY b) AS cumc, SUM(c) OVER () AS n FROM counts
       |), qs AS (
       |  SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS q
       |)
       |SELECT q, $HistLo + MIN(b) * $HistWidth AS bucket_lo
       |FROM cum CROSS JOIN qs
       |WHERE cumc >= CAST(CEIL(q * CAST(n AS DOUBLE)) AS BIGINT)
       |GROUP BY q""".stripMargin

  /** q87: customer spend quartiles — NTILE(4) over exact decimal lifetime
    * spend (totally ordered by (spend desc, custkey) so bucket boundaries
    * are deterministic), then per-quartile stats. The customer frame grows
    * with the fact, so the global ranking runs through
    * [[graft.operators.GlobalRank.ntile]], a [[graft.operators.PrefixSum]]
    * (range exchange + P driver offsets) — a `Window.orderBy` with no partition
    * key would drag every customer into ONE task (`Exchange
    * SinglePartition`), the scale trap the round-8 audit flagged here.
    */
  def q87SpendQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("spend"),
        count(lit(1)).as("n_orders"))
    graft.operators.GlobalRank.ntile(
        spend, Seq(col("spend").desc, col("o_custkey").asc), 4, "quartile",
        partitions = 32)
      .groupBy(col("quartile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("n_orders")).as("n_orders"),
        min(col("spend")).cast(DoubleType).as("min_spend"),
        max(col("spend")).cast(DoubleType).as("max_spend"),
        sum(col("spend")).cast(DoubleType).as("total_spend"))
  }

  def q87Oracle: String =
    """WITH spend AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend,
      |    COUNT(*) AS n_orders
      |  FROM orders GROUP BY 1
      |), q AS (
      |  SELECT *, CAST(ntile(4) OVER (ORDER BY spend DESC, o_custkey ASC) AS INTEGER) AS quartile
      |  FROM spend
      |)
      |SELECT quartile, COUNT(*) AS n_customers,
      |  CAST(SUM(n_orders) AS BIGINT) AS n_orders,
      |  CAST(MIN(spend) AS DOUBLE) AS min_spend,
      |  CAST(MAX(spend) AS DOUBLE) AS max_spend,
      |  CAST(SUM(spend) AS DOUBLE) AS total_spend
      |FROM q GROUP BY 1""".stripMargin

  /** q88: market-basket co-purchase pairs ([[graft.operators.Affinity]]) —
    * top-20 part pairs by joint order count with exact lift. Pair fan-out
    * is bounded per order by basket size (≤13 here), never by catalog
    * size; ranking is TakeOrdered-bounded.
    */
  def q88CoPurchase(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Affinity.coOccurrence(
        Tables.lineitem(spark, dir), "l_orderkey", "l_partkey")
      .orderBy(col("n_baskets").desc, col("item_a").asc, col("item_b").asc)
      .limit(20)

  def q88Oracle: String =
    """WITH bi AS (
      |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
      |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
      |), ic AS (
      |  SELECT i, COUNT(*) AS cnt FROM bi GROUP BY 1
      |), nb AS (
      |  SELECT COUNT(DISTINCT b) AS nb FROM bi
      |), pairs AS (
      |  SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS n_baskets
      |  FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i
      |  GROUP BY 1, 2
      |)
      |SELECT item_a, item_b, n_baskets, ca.cnt AS n_a, cb.cnt AS n_b,
      |  CAST(n_baskets * nb.nb AS DOUBLE) / CAST(ca.cnt * cb.cnt AS DOUBLE) AS lift
      |FROM pairs
      |JOIN ic ca ON pairs.item_a = ca.i
      |JOIN ic cb ON pairs.item_b = cb.i
      |CROSS JOIN nb
      |ORDER BY n_baskets DESC, item_a ASC, item_b ASC
      |LIMIT 20""".stripMargin

  /** q90: winsorized order totals ([[graft.operators.Cleanse.winsorize]])
    * — cents clipped to the exact [p01, p99] percentiles; the robust-
    * statistics cleaning step before averaging fat-tailed metrics. The
    * oracle replays the exact-quantile bounds and the clamp.
    */
  def q90Winsorize(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Cleanse.winsorize(
        Tables.orders(spark, dir).select(col("o_orderkey"),
          totalPriceCents().as("cents"))
          .filter(col("cents").isNotNull), // mirror the oracle's null drop
        col("cents"), outCol = "clipped", pLo = 0.01, pHi = 0.99)
      .select(col("o_orderkey"), col("cents"), col("clipped"),
        col("clipped_lo"), col("clipped_hi"))

  def q90Oracle: String =
    s"""WITH v AS (
       |  SELECT o_orderkey, ${totalPriceCentsSql()} AS cents
       |  FROM orders WHERE o_totalprice IS NOT NULL
       |), n AS (SELECT COUNT(*) AS n FROM v),
       |counts AS (SELECT cents AS c, COUNT(*) AS k FROM v GROUP BY 1),
       |cum AS (SELECT c, SUM(k) OVER (ORDER BY c) AS cumk FROM counts),
       |bounds AS (
       |  SELECT
       |    (SELECT MIN(c) FROM cum, n WHERE cumk >= CAST(CEIL(0.01 * CAST(n AS DOUBLE)) AS BIGINT)) AS lo,
       |    (SELECT MIN(c) FROM cum, n WHERE cumk >= CAST(CEIL(0.99 * CAST(n AS DOUBLE)) AS BIGINT)) AS hi
       |)
       |SELECT o_orderkey, cents,
       |  LEAST(GREATEST(cents, lo), hi) AS clipped,
       |  lo AS clipped_lo, hi AS clipped_hi
       |FROM v CROSS JOIN bounds""".stripMargin

  /** q91: per-segment min-max normalized customer balances
    * ([[graft.operators.Cleanse.minMaxPerGroup]]) — feature scaling to
    * [0,1] within each market segment; exact long extrema, one double
    * division.
    */
  def q91MinMaxNorm(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Cleanse.minMaxPerGroup(
        Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"),
          (col("c_acctbal").cast(DecimalType(18, 2)) * 100).cast("long").as("bal_cents")),
        "c_mktsegment", col("bal_cents"), outCol = "bal_norm")
      .select(col("c_custkey"), col("c_mktsegment"), col("bal_cents"), col("bal_norm"))

  def q91Oracle: String =
    """WITH c AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents
      |  FROM customer
      |), x AS (
      |  SELECT c_mktsegment, MIN(bal_cents) AS mn, MAX(bal_cents) AS mx
      |  FROM c WHERE bal_cents IS NOT NULL GROUP BY 1
      |)
      |SELECT c.c_custkey, c.c_mktsegment, c.bal_cents,
      |  CASE WHEN x.mx > x.mn
      |       THEN CAST(c.bal_cents - x.mn AS DOUBLE) / CAST(x.mx - x.mn AS DOUBLE)
      |  END AS bal_norm
      |-- null-SAFE group match, mirroring the operator: a null group is
      |-- still a group and its rows scale like any other
      |FROM c LEFT JOIN x ON c.c_mktsegment IS NOT DISTINCT FROM x.c_mktsegment""".stripMargin

  /** q93: chi-square contingency cells for order priority × status
    * ([[graft.operators.Stats.chiSquareCells]]): exact integer
    * marginals/numerators, one double division per cell — cells, not the
    * order-dependent summed statistic. The oracle routes the big exact
    * products through VARCHAR (q67's >2^53 decimal-cast lesson).
    */
  def q93ChiSquare(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Stats.chiSquareCells(
      Tables.orders(spark, dir), "o_orderpriority", "o_orderstatus")

  def q93Oracle: String =
    """WITH base AS (
      |  SELECT o_orderpriority, o_orderstatus FROM orders
      |  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
      |), cells AS (
      |  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS o
      |  FROM base GROUP BY 1, 2
      |), r AS (SELECT o_orderpriority, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
      |c AS (SELECT o_orderstatus, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
      |n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells)
      |SELECT cells.o_orderstatus, cells.o_orderpriority, cells.o,
      |  r.rt AS row_total, c.ct AS col_total, n.n,
      |  CAST(CAST(CAST(cells.o * n.n - r.rt * c.ct AS DECIMAL(19,0)) *
      |            CAST(cells.o * n.n - r.rt * c.ct AS DECIMAL(19,0)) AS VARCHAR) AS DOUBLE) /
      |  CAST(CAST(CAST(r.rt * c.ct AS DECIMAL(19,0)) * n.n AS VARCHAR) AS DOUBLE) AS chi2_term
      |FROM cells
      |JOIN r USING (o_orderpriority)
      |JOIN c USING (o_orderstatus)
      |CROSS JOIN n""".stripMargin

  /** q135's shape: [[PageRankIters]] exact-integer power-iteration rounds
    * over the directed co-purchase graph (distinct part→part pairs within
    * an order — q88's pair substrate as a digraph), top-[[PageRankTopK]]
    * by stationary mass. The oracle replays every integer division, the
    * dangling-mass redistribution, and all five rounds as unrolled CTEs
    * with the node count as a scalar CTE (no SF-specific literal); every
    * round CTE is MATERIALIZED — an inlined r_k chain doubles the
    * replay's compute tree per round (r_k is referenced twice by round
    * k+1), which measured 2^5-ish blowup at sf0.1 in the baseline
    * timing pass.
    */
  val PageRankIters = 5
  val PageRankTopK = 100

  /** q135: exact-integer PageRank ([[graft.operators.PageRank]] — the
    * graph-centrality quality weight of web-corpus curation, run on the
    * co-purchase digraph).
    */
  def q135PageRank(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
    val edges = li.as("a")
      .join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
    val pr = graft.operators.PageRank.run(edges, "src", "dst", PageRankIters)
    graft.operators.TopK.perGroup(pr, Seq.empty, sortCol = "pr",
      idCol = "node", k = PageRankTopK)
  }

  def q135Oracle: String = {
    import graft.operators.PageRank.{DampDen, DampNum, Scale}
    val iters = (1 to PageRankIters).map { k =>
      val p = k - 1
      s"""s$k AS MATERIALIZED (
         |  SELECT e.dst AS node, CAST(SUM(r.r // e.deg) AS BIGINT) AS s
         |  FROM ew e JOIN r$p r ON r.node = e.src GROUP BY 1
         |), d$k AS MATERIALIZED (
         |  SELECT CAST(COALESCE(SUM(r.r), 0) AS BIGINT) AS d
         |  FROM r$p r LEFT JOIN outdeg o ON o.src = r.node
         |  WHERE o.src IS NULL
         |), r$k AS MATERIALIZED (
         |  SELECT nd.node,
         |    ((($DampDen - $DampNum) * c0.base) // $DampDen) +
         |    (($DampNum * (COALESCE(s.s, 0) + (d$k.d // c0.n))) // $DampDen) AS r
         |  FROM nodes nd LEFT JOIN s$k s ON s.node = nd.node
         |  CROSS JOIN d$k CROSS JOIN c0
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |), outdeg AS MATERIALIZED (
       |  SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1
       |), ew AS MATERIALIZED (
       |  SELECT e.src, e.dst, o.deg FROM e JOIN outdeg o USING (src)
       |), nodes AS MATERIALIZED (
       |  SELECT src AS node FROM e UNION SELECT dst FROM e
       |), c0 AS MATERIALIZED (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    $Scale // CAST(COUNT(*) AS BIGINT) AS base
       |  FROM nodes
       |), r0 AS MATERIALIZED (
       |  SELECT nd.node, c0.base AS r FROM nodes nd CROSS JOIN c0
       |), $iters
       |SELECT node, pr, rank FROM (
       |  SELECT node, r AS pr, CAST(row_number() OVER (
       |    ORDER BY r DESC, node ASC) AS INTEGER) AS rank
       |  FROM r$PageRankIters) t
       |WHERE rank <= $PageRankTopK""".stripMargin
  }
}
