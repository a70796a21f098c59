package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Relational

/** SURVEY.md §2 relational inventory expressed over the driver testdata
  * (mapping per FIXTURES.md §5: events ≈ tick tables, orders/lineitem ≈
  * price/volume facts, nation/region/part ≈ control-plane dims).
  *
  * Determinism contract with the DuckDB oracle:
  *  - every query ends in a total ORDER BY (unique tie-break column);
  *  - float aggregates go through exact DECIMAL internals and are cast to
  *    DOUBLE only at the end (identical IEEE results in both engines);
  *  - time-relative predicates use an explicit as-of literal (SURVEY §7.4.5).
  */
object CoreQueries {
  /** events table ends 2024-01-30T23:57; fixed "now" for range queries. */
  val AsOf = "2024-01-31 00:00:00"

  /** r18: exact integer-cents quantization replacing the DECIMAL(12,2)
    * internals in the revenue/quantity sums (guide §1.2 step 2: the
    * per-row decimal multiply+sum was the single-task hot loop — the q1
    * agg measured 0.97 s decimal vs 0.28 s long, outputs bit-identical).
    * Money columns are exact 2-decimal values stored as doubles
    * (measured: max |x·100 − round(x·100)| ≤ 1e-9 across lineitem and
    * events at sf0.1), so rint(x·100) recovers the exact cent integer
    * tie-free — NEVER floor(x·100), which loses 1 ulp on values like
    * 8.32 whose double sits just below the true cent (the CAST TO
    * DECIMAL these sums replace rounds, so floor would change results).
    * The per-row product cents·(100−disc%) is an exact ≤1.05e9 integer;
    * the long sum is exact up to ~8.8e9 rows PER GROUP (the same
    * documented envelope as the repo's floor(x·1e6) convention). Past
    * it the sum fails loudly: ANSI mode, pinned by
    * [[graft.LocalSession]], raises ARITHMETIC_OVERFLOW instead of
    * wrapping (ContractSpec trips it); a group that large needs the sum
    * widened to DECIMAL(38,0). The final
    * CAST(sum AS DOUBLE)/1e4 (or /1e2) is one correctly-rounded
    * conversion of the same exact rational the decimal internals
    * carried, so the emitted doubles are IDENTICAL bit for bit (both
    * engines round-to-nearest on the single division; long→double and
    * hugeint→double conversions are correctly rounded in both). DuckDB
    * twin: CAST(round(x * 1.0e2) AS BIGINT) — round-half-away vs rint's
    * half-even never disagree off ties, and ties cannot arise from
    * 2-decimal inputs. */
  private[graft] def cents(c: String): Column =
    expr(s"cast(rint($c * 1.0e2) as long)")
  /** sum of exact 4-decimal-fixed-point revenue units:
    * cents(price) · (100 − cents(discount)); divide by 1.0e4 as double
    * at the very end. */
  private[graft] def revenueQ: Column =
    sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))

  // ---- flagship: TPC-H-Q1-shaped pricing summary (A8/A9 agg family) ------
  def q1PricingSummary(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (sum(cents("l_quantity")).cast("double") / lit(1.0e2)).as("sum_qty"),
        (sum(cents("l_extendedprice")).cast("double") / lit(1.0e2))
          .as("sum_base_price"),
        (revenueQ.cast("double") / lit(1.0e4)).as("sum_disc_price"),
        round(sum(cents("l_quantity")).cast("double") / lit(1.0e2)
          / count(lit(1)), 6).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }
  val q1PricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(round(l_quantity * 1.0e2) AS BIGINT)) AS DOUBLE) / 1.0e2 AS sum_qty,
      |  CAST(SUM(CAST(round(l_extendedprice * 1.0e2) AS BIGINT)) AS DOUBLE) / 1.0e2 AS sum_base_price,
      |  CAST(SUM(CAST(round(l_extendedprice * 1.0e2) AS BIGINT) * (100 - CAST(round(l_discount * 1.0e2) AS BIGINT))) AS DOUBLE) / 1.0e4 AS sum_disc_price,
      |  ROUND(CAST(SUM(CAST(round(l_quantity * 1.0e2) AS BIGINT)) AS DOUBLE) / 1.0e2 / COUNT(*), 6) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- Q3: shipping priority — the classic star join + top-k -------------
  /** TPC-H Q3 shape over the testdata tables: filtered customer dim
    * (broadcasts — ~300 rows per segment) × date-filtered orders ×
    * ship-date-filtered lineitem, revenue per order as an EXACT
    * exact integer-cents sum cast to double at the very end (the q1
    * discipline, r18 quantized form — addition-order independence,
    * identical IEEE doubles on both engines), then global top-10 by
    * (revenue desc, orderkey) — Spark plans orderBy+limit as
    * TakeOrderedAndProject (per-partition top-10 then a 10-row driver
    * merge), never a global sort. Both date filters reach the parquet
    * scans as pushed predicates. */
  def q3ShippingPriority(s: SparkSession, d: String): DataFrame = {
    val cut = lit("1998-06-01 00:00:00").cast("timestamp")
    val cust = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val ord = Tables.orders(s, d).filter(col("o_orderdate") < cut)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val li = Tables.lineitem(s, d).filter(col("l_shipdate") > cut)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg((revenueQ.cast("double") / lit(1.0e4)).as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }
  val q3ShippingPrioritySql: String =
    """SELECT l_orderkey,
      |  CAST(SUM(CAST(round(l_extendedprice * 1.0e2) AS BIGINT) *
      |    (100 - CAST(round(l_discount * 1.0e2) AS BIGINT))) AS DOUBLE) / 1.0e4 AS revenue,
      |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  // ---- Q18: large-volume customers — group-by-HAVING semi join + top-k ---
  /** TPC-H Q18 shape: orders whose lineitems sum past 300 units, joined
    * back to customer, global top-100 by (totalprice desc, date). The
    * classic text scans lineitem TWICE (HAVING subquery + outer sum);
    * here ONE aggregation produces both the qualifying set and the sum —
    * the qualifying orders are a vanishing fraction (473 of ~150k at
    * sf0.1), so the join input collapses before any wide table moves.
    * Quantity sums in exact integer cents cast to double at the very
    * end (q1 discipline); customer broadcasts; orderBy+limit plans as
    * TakeOrderedAndProject, never a global sort. o_totalprice flows
    * through unaggregated, so both engines hash the identical parquet
    * double. */
  def q18LargeVolume(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"))
      .groupBy(col("l_orderkey"))
      .agg(sum(cents("l_quantity")).as("qty_c"))
      .filter(col("qty_c") > lit(30000L)) // 300 units, exact in cents
    val ord = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"))
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"))
    big.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_totalprice"),
        (col("qty_c").cast("double") / lit(1.0e2)).as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate"),
        col("o_orderkey"))
      .limit(100)
  }
  val q18LargeVolumeSql: String =
    """SELECT c_name, c_custkey, o_orderkey,
      |  CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice,
      |  CAST(SUM(CAST(round(l_quantity * 1.0e2) AS BIGINT)) AS DOUBLE) / 1.0e2 AS sum_qty
      |FROM customer, orders, lineitem
      |WHERE o_orderkey IN (
      |    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |    HAVING SUM(CAST(round(l_quantity * 1.0e2) AS BIGINT)) > 30000)
      |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""".stripMargin

  // ---- Q5: local-supplier volume — the deepest join tree in the suite ----
  /** TPC-H Q5 shape: revenue by nation where the customer and the
    * supplier share a nation ("local supplier"), region- and date-
    * filtered — a SIX-table tree (region→nation→{customer, supplier}→
    * orders→lineitem) that exercises join ORDERING and broadcast at
    * depth: region (5 rows), nation (25), supplier and the region-
    * filtered customer all broadcast, so the only shuffle joins are the
    * two fact-side equi joins (orders⋈lineitem), and the date filter
    * reaches the orders scan as a pushed predicate. The c_nationkey =
    * s_nationkey condition rides the lineitem⋈supplier join as a post-
    * join filter against the broadcast customer row. Revenue in exact
    * integer cents cast to double at the very end (q1 discipline);
    * deterministic total order by (revenue desc, n_name). */
  def q5LocalSupplier(s: SparkSession, d: String): DataFrame = {
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1997-01-01 00:00:00").cast("timestamp")
    val asiaNations = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(s, d)
      .join(broadcast(asiaNations),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
    val sup = Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_nationkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(asiaNations),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg((revenueQ.cast("double") / lit(1.0e4)).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }
  val q5LocalSupplierSql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(round(l_extendedprice * 1.0e2) AS BIGINT) *
      |    (100 - CAST(round(l_discount * 1.0e2) AS BIGINT))) AS DOUBLE) / 1.0e4 AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  // ---- Q7: volume shipping — the symmetric-OR nation-pair predicate ----
  /** TPC-H Q7 shape: bilateral trade volume between two named nations by
    * ship year — the join-ladder rung Q1/Q3/Q5/Q18 don't exercise: a
    * DISJUNCTIVE predicate ACROSS two broadcast dimension arms
    * ((supp=A ∧ cust=B) ∨ (supp=B ∧ cust=A)). The scale-correct shape:
    * each arm pre-filters its dim chain to the two nations BEFORE the
    * fact joins (supplier⋈nation and customer⋈nation both collapse to
    * the two-nation slice and broadcast), so the OR never degrades a
    * join into a nested loop — it runs as a post-join filter against
    * two broadcast-joined name columns, and the only shuffle join is
    * orders⋈lineitem. The ship-date range reaches the lineitem scan as
    * a pushed predicate. Revenue in exact integer cents cast to double
    * at the very end; year extracted as BIGINT to match DuckDB's
    * EXTRACT. Group keys are the total order — deterministic. */
  def q7VolumeShipping(s: SparkSession, d: String): DataFrame = {
    val (na, nb) = ("NATION_1", "NATION_2")
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1998-01-01 00:00:00").cast("timestamp")
    val twoNations = Tables.nation(s, d)
      .filter(col("n_name") === na || col("n_name") === nb)
    val sup = Tables.supplier(s, d)
      .join(broadcast(twoNations.select(col("n_nationkey"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val cust = Tables.customer(s, d)
      .join(broadcast(twoNations.select(col("n_nationkey"),
        col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("cust_nation"))
    val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === na && col("cust_nation") === nb) ||
        (col("supp_nation") === nb && col("cust_nation") === na))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg((revenueQ.cast("double") / lit(1.0e4)).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }
  val q7VolumeShippingSql: String =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(SUM(volume) AS DOUBLE) / 1.0e4 AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    EXTRACT(year FROM l_shipdate) AS l_year,
      |    CAST(round(l_extendedprice * 1.0e2) AS BIGINT) *
      |      (100 - CAST(round(l_discount * 1.0e2) AS BIGINT)) AS volume
      |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
      |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
      |    AND c_nationkey = n2.n_nationkey
      |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  // ---- Q10: returned-item reporting — filtered fact + grouped top-k ----
  /** TPC-H Q10 shape: revenue lost to returns by customer over one
    * quarter, top-20 — the filtered-fact + wide-group + top-k rung:
    * BOTH fact filters (the quarter on orders, returnflag on lineitem)
    * push into their scans, the shuffle join is orders⋈lineitem only
    * (customer and nation broadcast), and the limit plans as
    * TakeOrderedAndProject — never a global sort of the grouped set.
    * The testdata's trimmed customer schema drops address/phone/comment
    * from the classic output list; group keys + revenue semantics are
    * the classic ones. Deterministic: (revenue desc, c_custkey); custkey
    * is unique per group. */
  def q10ReturnedItems(s: SparkSession, d: String): DataFrame = {
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1996-04-01 00:00:00").cast("timestamp")
    val cust = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg((revenueQ.cast("double") / lit(1.0e4)).as("revenue"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }
  val q10ReturnedItemsSql: String =
    """SELECT c_custkey, c_name,
      |  CAST(SUM(CAST(round(l_extendedprice * 1.0e2) AS BIGINT) *
      |    (100 - CAST(round(l_discount * 1.0e2) AS BIGINT))) AS DOUBLE) / 1.0e4 AS revenue,
      |  c_acctbal, n_name
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // ---- Q4: order-priority checking — correlated EXISTS as a semi join ----
  /** TPC-H Q4 shape: orders in one quarter having at least one LATE
    * lineitem, counted by priority — the correlated-EXISTS rung of the
    * ladder. The testdata schema carries no l_commitdate/l_receiptdate,
    * so "late" is adapted to `l_shipdate > o_orderdate + 90 days` (the
    * same order↔line lateness semantics, stated identically in the
    * oracle). Plan shape is the point: the EXISTS decorrelates to a
    * LEFT SEMI join on orderkey with the cross-table date comparison as
    * the join's residual condition — the fact table contributes each
    * order at most once, no DISTINCT, no double scan. Two pushdowns
    * reach the scans: the quarter on orders, and the IMPLIED lineitem
    * bound `l_shipdate > quarter_lo + 90 days` (every qualifying line
    * ships after it, since o_orderdate ≥ quarter_lo) — the conservative
    * single-table consequence of a two-table predicate, which Catalyst
    * cannot derive itself. */
  def q4OrderPriority(s: SparkSession, d: String): DataFrame = {
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1996-04-01 00:00:00").cast("timestamp")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lo + expr("INTERVAL 90 DAYS"))
      .select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }
  val q4OrderPrioritySql: String =
    """SELECT o_orderpriority, count(*) AS order_count FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- Q21: suppliers who kept orders waiting — quantifiers as flags ----
  /** TPC-H Q21 shape: suppliers in one nation whose line was late on a
    * multi-supplier 'F' order where NO OTHER supplier was late —
    * EXISTS + NOT EXISTS correlated self-joins on the same fact table,
    * the heaviest quantifier shape in the benchmark (same adapted
    * lateness rule as [[q4OrderPriority]]; the testdata schema has no
    * commit/receipt dates). The classic text scans lineitem THREE times
    * (l1, the EXISTS l2, the NOT EXISTS l3); here both quantifiers
    * DECORRELATE into per-order supplier flags computed in ONE pass:
    * collapse lines to (order, supplier, any_late, late_lines), count
    * suppliers and late suppliers per order with windows over the
    * collapsed table (per-order groups are a handful of rows — the
    * bounded per-key window w8 already accepts, never corpus-wide), and
    * the quantifiers become `n_supps > 1 AND n_late_supps = 1` on a row
    * whose own flag is late. numwait counts s's late LINES (the classic
    * l1 multiplicity), only the l1 supplier takes the nation filter —
    * both quantifiers range over ALL suppliers. The oracle states the
    * classic correlated form outright, so a decorrelation slip
    * hash-mismatches. */
  def q21SuppliersWaiting(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val supp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .filter(col("n_name") === "NATION_7").select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"))
    val ordF = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val lines = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(ordF, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late", (col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 90 DAYS")).cast("long"))
    val perSupp = lines.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("late")).as("late_s"), sum(col("late")).as("late_lines"))
    val w = Window.partitionBy(col("l_orderkey"))
    perSupp
      .withColumn("n_supps", count(lit(1)).over(w))
      .withColumn("n_late_supps", sum(col("late_s")).over(w))
      .filter(col("late_s") === 1L && col("n_supps") > 1L &&
        col("n_late_supps") === 1L)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(sum(col("late_lines")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }
  val q21SuppliersWaitingSql: String =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier, lineitem l1, orders, nation
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
      |  AND s_nationkey = n_nationkey AND n_name = 'NATION_7'
      |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin

  // ---- Q14: promo revenue share — conditional-sum ratio over a dim join --
  /** TPC-H Q14 shape: the share of monthly revenue from PROMO parts —
    * the conditional-sum RATIO rung (a CASE-gated sum divided by the
    * total, the "what fraction of X is Y" read every marketing
    * dashboard serves), and the first ladder rung exercising the PART
    * dimension. One year of lineitem by ship month, part broadcast.
    * Determinism discipline: revenue quantizes PER TERM to
    * floor(ep·(1−disc)·100) cents — the identical IEEE double sequence
    * on both engines, then integer sums (addition-order independent) —
    * and the share is integer ppm by long floor division, never a
    * double ratio of double sums. The month filter pushes to the
    * lineitem scan. (Testdata p_type is the bare class name, so the
    * classic `LIKE 'PROMO%'` is stated as equality.) */
  def q14PromoShare(s: SparkSession, d: String): DataFrame = {
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1997-01-01 00:00:00").cast("timestamp")
    val cents = floor(col("l_extendedprice") *
      (lit(1.0) - col("l_discount")) * lit(100.0)).cast("long")
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select(col("l_partkey"), col("l_shipdate"), cents.as("cents"))
    li.join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(to_date(date_trunc("MONTH", col("l_shipdate"))).as("month"))
      .agg(sum(when(col("p_type") === "PROMO", col("cents")).otherwise(0L))
          .as("promo_cents"),
        sum(col("cents")).as("total_cents"))
      .select(col("month"), col("promo_cents"), col("total_cents"),
        expr("promo_cents * 1000000 div total_cents").as("promo_ppm"))
      .orderBy(col("month"))
  }
  val q14PromoShareSql: String =
    """WITH rev AS (
      |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
      |    p_type,
      |    CAST(FLOOR(l_extendedprice * (1e0 - l_discount) * 1e2) AS BIGINT) AS cents
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00')
      |SELECT month,
      |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END) AS BIGINT) AS promo_cents,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents,
      |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END) * 1000000
      |    // SUM(cents) AS BIGINT) AS promo_ppm
      |FROM rev GROUP BY month ORDER BY month""".stripMargin

  // ---- Q22: dormant high-balance customers — scalar gate + anti join -----
  /** TPC-H Q22 shape: customers whose balance sits above the
    * positive-balance mean yet placed NO order — the global-scalar-
    * subquery + anti-join rung (j7 exercises a scalar CTE, j3 an anti
    * join; this is the classic composition of both). The testdata has
    * no order-less customers at all, so the classic predicate is
    * adapted to "no order in the final observed year" — the DORMANT
    * high-balance read, stated identically in the oracle's NOT EXISTS.
    * The determinism trap is the threshold itself: the classic
    * `c_acctbal > (SELECT AVG(...))` is a raw-double sum whose value
    * depends on addition order — Spark and DuckDB would disagree in
    * ulps and flip boundary customers. Stated instead as the
    * CROSS-MULTIPLIED integer form: cents·n > total_cents over
    * floor(c_acctbal·100) — division-free, order-independent, and
    * exactly "strictly above the mean" on 2-dp money. The scalar
    * (n, total) pair broadcasts as a 1-row frame; the anti join's
    * order-date filter pushes to the orders scan. */
  def q22DormantBalance(s: SparkSession, d: String): DataFrame = {
    val lastYear = lit("2001-01-01 00:00:00").cast("timestamp")
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"),
        floor(col("c_acctbal") * lit(100.0)).cast("long").as("cents"))
    val thresh = cust.filter(col("cents") > 0L)
      .agg(count(lit(1)).as("n_pos"), sum(col("cents")).as("total_cents"))
    val recent = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lastYear).select(col("o_custkey"))
    cust.crossJoin(broadcast(thresh))
      .filter(col("cents") * col("n_pos") > col("total_cents"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("cents")).as("totacctbal_cents"))
      .orderBy(col("n_name"))
  }
  val q22DormantBalanceSql: String =
    """WITH cust AS (
      |  SELECT c_custkey, c_nationkey,
      |    CAST(FLOOR(c_acctbal * 1e2) AS BIGINT) AS cents
      |  FROM customer),
      |thresh AS (
      |  SELECT COUNT(*) AS n_pos, CAST(SUM(cents) AS BIGINT) AS total_cents
      |  FROM cust WHERE cents > 0)
      |SELECT n_name, count(*) AS numcust,
      |  CAST(SUM(cents) AS BIGINT) AS totacctbal_cents
      |FROM cust, thresh, nation
      |WHERE c_nationkey = n_nationkey
      |  AND cents * n_pos > total_cents
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |    WHERE o_custkey = c_custkey
      |      AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---- Q6: forecast revenue change — the pure scan-aggregate rung ---------
  /** TPC-H Q6 shape: revenue that would have been earned had discounts in
    * a band been dropped — one year of lineitem, a discount band, a
    * quantity cap, NO join at all. The rung exists to pin the floor of
    * the ladder: every predicate reaches the parquet scan as a pushed
    * filter and the whole query is one WholeStageCodegen scan-agg with a
    * single-row exchange. Revenue quantizes per term to exact integer
    * CENTS — floor(ep·disc·100), the q14 discipline — so the sum is
    * addition-order independent AND overflow-proof at 100 TB (a
    * cents×disc-hundredths product form carries only ~9× headroom on
    * this global sum at warehouse row counts; cents keep ~2000×); the
    * discount-band comparison is on the RAW double (both engines
    * compare the identical parquet double to the identical IEEE
    * literal, stated in e-notation for DuckDB). */
  def q6ForecastRevenue(s: SparkSession, d: String): DataFrame = {
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1997-01-01 00:00:00").cast("timestamp")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .select(floor(col("l_extendedprice") * col("l_discount") * lit(100.0))
        .cast("long").as("rev_c"))
      .agg(sum(col("rev_c")).as("revenue_c"), count(lit(1)).as("n_lines"))
  }
  val q6ForecastRevenueSql: String =
    """SELECT
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * l_discount * 1e2) AS BIGINT))
      |    AS BIGINT) AS revenue_c,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount >= 5e-2 AND l_discount <= 7e-2
      |  AND l_quantity < 24""".stripMargin

  // ---- Q12: priority by return class — the two-bucket conditional count --
  /** TPC-H Q12 shape: for returned/accepted lines shipped in one year,
    * how many belong to HIGH-priority orders vs the rest — the
    * CASE-counted two-bucket rung (classic Q12 buckets by ship mode;
    * the testdata has no shipmode column, so the line class is
    * l_returnflag, stated identically in the oracle). The fact-fact join
    * (orders × lineitem) stays a shuffle join by design — at 100 TB
    * neither side broadcasts — while both lineitem predicates push to
    * the scan. Counts are exact longs; no float leaves the plan. */
  def q12PriorityClasses(s: SparkSession, d: String): DataFrame = {
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1997-01-01 00:00:00").cast("timestamp")
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi &&
        col("l_returnflag").isin("A", "R"))
      .select(col("l_orderkey"), col("l_returnflag"))
    val ord = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val hi_pri = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(hi_pri, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(hi_pri, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }
  val q12PriorityClassesSql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM orders, lineitem
      |WHERE o_orderkey = l_orderkey
      |  AND l_returnflag IN ('A','R')
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- Q13: customer order-count distribution — the double aggregation ---
  /** TPC-H Q13 shape: the distribution of per-customer order counts
    * (including zero-order customers) — the LEFT-OUTER + double-GROUP-BY
    * rung. The classic text left-joins customer to the FULL filtered
    * orders table and counts after the join; here the count pushes
    * BELOW the join — orders aggregates to (custkey, n) first, so the
    * outer join moves one row per customer instead of one per order
    * (answer-identical: the outer count only needs the per-key totals;
    * absent keys coalesce to 0). At 100 TB that turns a
    * customer × orders row explosion into customer × distinct-custkey.
    * The priority filter stands in for the classic comment exclusion
    * and pushes to the orders scan. */
  def q13CustDist(s: SparkSession, d: String): DataFrame = {
    val cnt = Tables.orders(s, d)
      .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
    Tables.customer(s, d).select(col("c_custkey"))
      .join(cnt, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("n"), lit(0L)).as("c_count"))
      .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }
  val q13CustDistSql: String =
    """SELECT c_count, COUNT(*) AS custdist FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey
      |    AND o_orderpriority <> '4-NOT SPECIFIED'
      |  GROUP BY c_custkey) t
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // ---- Q15: top supplier — the scalar-max re-probe (ties included) -------
  /** TPC-H Q15 shape: the supplier(s) with the maximum revenue over one
    * quarter — the grouped-agg + scalar-max-equality rung the classic
    * text writes as a view read twice. The per-supplier revenue
    * aggregates once; its global max rides a broadcast 1-row frame back
    * over the same aggregate (ties survive, unlike a LIMIT 1), and only
    * the winners join the supplier dim. Revenue is the exact integer
    * cents × (100 − discount-hundredths) form (10⁻⁴ dollars), so the
    * max-equality is an integer compare — a double-sum max would flip
    * winners between engines on ulps. */
  def q15TopSupplier(s: SparkSession, d: String): DataFrame = {
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1996-04-01 00:00:00").cast("timestamp")
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .select(col("l_suppkey"),
        (floor(col("l_extendedprice") * lit(100.0)).cast("long") *
          (lit(100L) - floor(col("l_discount") * lit(100.0)).cast("long")))
          .as("rev_u"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("rev_u")).as("total_revenue_u"))
    val mx = rev.agg(max(col("total_revenue_u")).as("mx"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_revenue_u") === col("mx"))
      .join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue_u"))
      .orderBy(col("s_suppkey"))
  }
  val q15TopSupplierSql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(FLOOR(l_extendedprice * 1e2) AS BIGINT) *
      |      (100 - CAST(FLOOR(l_discount * 1e2) AS BIGINT))) AS BIGINT)
      |      AS total_revenue_u
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue_u
      |FROM supplier, rev
      |WHERE s_suppkey = l_suppkey
      |  AND total_revenue_u = (SELECT MAX(total_revenue_u) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  // ---- Q19: discounted-parts revenue — the disjunctive-arm predicate -----
  /** TPC-H Q19 shape: revenue from three brand/size/quantity arms OR'd
    * together — the rung where a naive plan degrades the join to a
    * nested loop. The join stays a pure equi join on partkey (part
    * broadcasts); the three-arm disjunction is a post-join residual
    * filter, and the hand-derived single-table consequence of the arms
    * (quantity ≤ the widest arm's cap — Catalyst cannot infer it from
    * an OR across tables) pushes to the lineitem scan. Revenue in
    * exact integer CENTS (per-term floor, the q14 discipline — the
    * 10⁻⁴-dollar product form leaves only ~3× headroom on this sum at
    * 100 TB row counts; cents keep ~300×). */
  def q19DiscountedParts(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
      .select(col("l_partkey"), col("l_quantity"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(100.0)).cast("long").as("rev_c"))
    val p = Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val arms =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 20) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#4" && col("p_size").between(1, 25) &&
        col("l_quantity").between(20, 30))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(arms)
      .agg(sum(col("rev_c")).as("revenue_c"), count(lit(1)).as("n_lines"))
  }
  val q19DiscountedPartsSql: String =
    """SELECT
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1e0 - l_discount) * 1e2)
      |    AS BIGINT)) AS BIGINT) AS revenue_c,
      |  COUNT(*) AS n_lines
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
      |        AND l_quantity BETWEEN 1 AND 11)
      |    OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
      |        AND l_quantity BETWEEN 10 AND 20)
      |    OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 25
      |        AND l_quantity BETWEEN 20 AND 30))""".stripMargin

  // ---- Q17: small-quantity revenue — the per-group scalar gate -----------
  /** TPC-H Q17 shape: revenue lost to orders below a fifth of their
    * part's average quantity — the correlated-per-group-scalar rung.
    * The part filter (Brand#23, small sizes) is collected at the driver
    * as a key list (a planning boundary: 10 keys at sf0.01, 160 at
    * sf0.1 — the same probe-cell discipline as the IVF queries), so
    * BOTH passes over lineitem carry a pushed `l_partkey IN (...)`
    * scan filter instead of a join-then-discard. The gate is the
    * cross-multiplied integer form: qty·5·n < Σqty per part (exactly
    * "below 0.2 of the mean" on integer quantities — a double avg
    * would flip boundary lines between engines). The per-part stats
    * frame is tiny and broadcasts back onto the lines.
    *
    * Insurance: the pushed-In plan is only sane while the key list is
    * small (160 keys at sf0.1; a multi-thousand-literal In bloats the
    * plan and the filter evaluates per row-group with no benefit once
    * it stops pruning). Past `q17MaxPushdownKeys` (default 1000,
    * sys-prop overridable for the parity spec) the part filter stays
    * distributed as a broadcast semi join — identical rows, no driver
    * round-trip ever exceeding the cap. The cap is a real parameter
    * (sys-prop only as the registry default) so the fallback-parity spec
    * can pass it explicitly instead of mutating global JVM state. */
  def q17SmallQtyRevenue(s: SparkSession, d: String): DataFrame =
    q17SmallQtyRevenue(s, d,
      sys.props.getOrElse("graft.q17.maxPushdownKeys", "1000").toInt)

  def q17SmallQtyRevenue(s: SparkSession, d: String, maxKeys: Int): DataFrame = {
    val partFilter = Tables.part(s, d)
      .filter(col("p_brand") === "Brand#23" && col("p_size") <= 10)
      .select(col("p_partkey"))
    val keys = partFilter.limit(maxKeys + 1)
      .collect().map(_.getLong(0)).toSeq.sorted
    val fact = Tables.lineitem(s, d)
    val filtered =
      if (keys.size <= maxKeys) fact.filter(col("l_partkey").isin(keys: _*))
      else fact.join(broadcast(partFilter),
        col("l_partkey") === col("p_partkey"), "left_semi")
    val lines = filtered
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        floor(col("l_extendedprice") * lit(100.0)).cast("long").as("cents"))
    val stats = lines.groupBy(col("l_partkey").as("k"))
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("totq"))
    lines.join(broadcast(stats), col("l_partkey") === col("k"))
      .filter(col("qty") * lit(5L) * col("n") < col("totq"))
      .agg(sum(col("cents")).as("total_cents"), count(lit(1)).as("n_small"))
      .select(col("total_cents"), col("n_small"),
        expr("total_cents div 7").as("avg_yearly_cents"))
  }
  val q17SmallQtyRevenueSql: String =
    """WITH l AS (
      |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
      |    CAST(FLOOR(l_extendedprice * 1e2) AS BIGINT) AS cents
      |  FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM part
      |    WHERE p_brand = 'Brand#23' AND p_size <= 10)),
      |st AS (SELECT l_partkey AS k, COUNT(*) AS n,
      |         CAST(SUM(qty) AS BIGINT) AS totq
      |       FROM l GROUP BY 1)
      |SELECT CAST(SUM(cents) AS BIGINT) AS total_cents,
      |  COUNT(*) AS n_small,
      |  CAST(SUM(cents) // 7 AS BIGINT) AS avg_yearly_cents
      |FROM l JOIN st ON l_partkey = k
      |WHERE qty * 5 * n < totq""".stripMargin

  // ---- Q2: minimum-cost supplier — argmin per part over derived pairs ----
  /** TPC-H Q2 shape: for each qualifying part, the cheapest qualifying
    * supplier — the correlated-MIN rung. The testdata has no partsupp
    * table, so the part–supplier relation is DERIVED as the distinct
    * (l_partkey, l_suppkey) pairs actually shipped (one dedup shuffle),
    * and supplier account balance (integer cents) stands in for supply
    * cost. Instead of the classic aggregate-then-rejoin (two passes +
    * a second join), ONE aggregation takes min(struct(cents, suppkey,
    * name, nation)) per part — the (cents, suppkey) prefix is a unique
    * total order, so the argmin is deterministic and the payload rides
    * along for free; the oracle states the same rule as row_number()=1.
    * Part and the region-filtered supplier arm broadcast. */
  def q2MinCostSupplier(s: SparkSession, d: String): DataFrame = {
    val eur = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)
          .filter(col("r_name") === "EUROPE").select(col("r_regionkey"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        floor(col("s_acctbal") * lit(100.0)).cast("long").as("acctbal_cents"))
    val parts = Tables.part(s, d)
      .filter(col("p_size") === 15 && col("p_type") === "STANDARD")
      .select(col("p_partkey"))
    Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(eur), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_partkey"))
      .agg(min(struct(col("acctbal_cents"), col("s_suppkey"),
        col("s_name"), col("n_name"))).as("m"))
      .select(col("m.acctbal_cents").as("acctbal_cents"),
        col("m.s_name").as("s_name"), col("m.n_name").as("n_name"),
        col("p_partkey"), col("m.s_suppkey").as("s_suppkey"))
      .orderBy(col("acctbal_cents").desc, col("p_partkey"))
      .limit(100)
  }
  val q2MinCostSupplierSql: String =
    """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |eur AS (
      |  SELECT s_suppkey, s_name, n_name,
      |    CAST(FLOOR(s_acctbal * 1e2) AS BIGINT) AS acctbal_cents
      |  FROM supplier, nation, region
      |  WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |    AND r_name = 'EUROPE'),
      |cand AS (
      |  SELECT p_partkey, acctbal_cents, s_suppkey, s_name, n_name,
      |    row_number() OVER (PARTITION BY p_partkey
      |      ORDER BY acctbal_cents, s_suppkey) AS rn
      |  FROM ps
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN eur ON l_suppkey = s_suppkey
      |  WHERE p_size = 15 AND p_type = 'STANDARD')
      |SELECT acctbal_cents, s_name, n_name, p_partkey, s_suppkey
      |FROM cand WHERE rn = 1
      |ORDER BY acctbal_cents DESC, p_partkey LIMIT 100""".stripMargin

  // ---- Q16: supplier-count distribution — count-distinct + NOT IN --------
  /** TPC-H Q16 shape: how many distinct suppliers can ship each
    * (brand, size) class, excluding flagged suppliers — the
    * COUNT(DISTINCT) + NOT-IN rung. The part–supplier relation is the
    * derived distinct shipped pairs (as in Q2); the exclusion set is
    * the negative-balance suppliers (the testdata's stand-in for the
    * classic complaint-comment scan) applied as a broadcast LEFT ANTI
    * join — never a NOT IN subquery that degrades to a nested loop.
    * The count-distinct shuffles once on (brand, size). */
  def q16SupplierCounts(s: SparkSession, d: String): DataFrame = {
    val flagged = Tables.supplier(s, d)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    val p = Tables.part(s, d)
      .filter(col("p_brand") =!= "Brand#45" &&
        col("p_size").isin(1, 5, 10, 15, 20, 25))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(flagged), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }
  val q16SupplierCountsSql: String =
    """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      |SELECT p_brand, p_size,
      |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM ps JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#45'
      |  AND p_size IN (1, 5, 10, 15, 20, 25)
      |  AND l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin

  // ---- Q11: important parts — group sum vs a global-fraction gate --------
  /** TPC-H Q11 shape: parts whose total shipped value exceeds a fraction
    * of the whole corpus's value — the HAVING-vs-global-scalar rung.
    * Classic Q11 prices partsupp stock; here value is shipped revenue
    * per part (the derived-fact analogue), and the gate is "above 1.2×
    * the mean part value", stated scale-free so it binds at every SF
    * (a fixed fraction of the global total selects nothing once the
    * part universe grows 10×). Determinism AND 100 TB overflow safety:
    * the naive cross-multiplied gate (value·n·5 > total·6) silently
    * WRAPS a non-ANSI long once per-part value (~10⁹) meets warehouse
    * part counts (~10¹⁰) — wrong rows with no error — so the gate is
    * the exactly-equivalent floor-division form value·5 >
    * (total·6) div n (for positive integers, value·5·n > total·6 ⟺
    * value·5 > ⌊total·6/n⌋: if value·5 ≥ q+1 then LHS ≥ (q+1)·n >
    * q·n + r; if value·5 ≤ q it is ≤ q·n ≤ total·6), in whole-DOLLAR
    * units (floor(ep·(1−disc))) so every intermediate keeps ~100×
    * headroom at 100 TB (total ~10¹⁶·6, value·5 ~10¹⁰). Floor
    * division on positive longs is identical in both engines. The
    * global (n, total) pair rides a broadcast 1-row frame; the
    * per-part aggregate feeds both sides, at the price of one
    * repeated scan — the same two-pass shape as the classic HAVING
    * subquery. */
  def q11ImportantParts(s: SparkSession, d: String): DataFrame = {
    val v = Tables.lineitem(s, d)
      .select(col("l_partkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("long").as("rev_d"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("rev_d")).as("value_d"))
    val tot = v.agg(count(lit(1)).as("n_parts"),
      sum(col("value_d")).as("total_d"))
    v.crossJoin(broadcast(tot))
      .filter(col("value_d") * lit(5L) >
        expr("(total_d * 6) div n_parts"))
      .select(col("l_partkey").as("p_partkey"), col("value_d"))
      .orderBy(col("value_d").desc, col("p_partkey"))
  }
  val q11ImportantPartsSql: String =
    """WITH v AS (
      |  SELECT l_partkey AS p_partkey,
      |    CAST(SUM(CAST(FLOOR(l_extendedprice * (1e0 - l_discount))
      |      AS BIGINT)) AS BIGINT) AS value_d
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT COUNT(*) AS n_parts, CAST(SUM(value_d) AS BIGINT)
      |        AS total_d FROM v)
      |SELECT p_partkey, value_d
      |FROM v, t
      |WHERE value_d * 5 > (total_d * 6) // n_parts
      |ORDER BY value_d DESC, p_partkey""".stripMargin

  // ---- Q8: market share — the nested two-arm ratio by year ---------------
  /** TPC-H Q8 shape: one supplier nation's share of a region's market
    * for one part class, by order year — the CASE-share-over-join-tree
    * rung (Q14's conditional ratio lifted onto Q5's join tree). The
    * fact chain shuffles once (lineitem × date-bounded orders); part,
    * the region-filtered customer arm, and the supplier→nation arm all
    * broadcast. The share is integer ppm of exact per-term CENTS (the
    * q14 discipline — the 10⁻⁴-dollar product form leaves only ~3×
    * headroom on the per-year sums at 100 TB row counts; cents keep
    * ~300×), numerator and denominator aggregated in the same pass. */
  def q8MarketShare(s: SparkSession, d: String): DataFrame = {
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1998-01-01 00:00:00").cast("timestamp")
    val asiaCust = Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)
          .filter(col("r_name") === "ASIA").select(col("r_regionkey"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val suppNation = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          lit(100.0)).cast("long").as("rev_c"))
      .join(broadcast(Tables.part(s, d)
        .filter(col("p_type") === "STANDARD").select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(when(col("supp_nation") === "NATION_5", col("rev_c"))
          .otherwise(0L)).as("nation_c"),
        sum(col("rev_c")).as("total_c"))
      .select(col("o_year"), col("nation_c"), col("total_c"),
        expr("nation_c * 1000000 div total_c").as("mkt_share_ppm"))
      .orderBy(col("o_year"))
  }
  val q8MarketShareSql: String =
    """WITH rev AS (
      |  SELECT EXTRACT(year FROM o_orderdate) AS o_year, n2.n_name AS supp_nation,
      |    CAST(FLOOR(l_extendedprice * (1e0 - l_discount) * 1e2) AS BIGINT)
      |      AS rev_c
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN region ON n1.n_regionkey = r_regionkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
      |SELECT o_year,
      |  CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN rev_c ELSE 0 END)
      |    AS BIGINT) AS nation_c,
      |  CAST(SUM(rev_c) AS BIGINT) AS total_c,
      |  CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN rev_c ELSE 0 END)
      |    * 1000000 // SUM(rev_c) AS BIGINT) AS mkt_share_ppm
      |FROM rev GROUP BY o_year ORDER BY o_year""".stripMargin

  // ---- Q9: product-class profit — expression profit by nation × year -----
  /** TPC-H Q9 shape: profit on one product class by supplier nation and
    * order year. Classic Q9 prices cost from partsupp; the testdata
    * stand-in is the part's retail price times quantity (stated
    * identically in the oracle), so profit = revenue − retail·qty, an
    * all-integer CENTS expression that can go negative — the rung
    * where the aggregate is an EXPRESSION over two tables' columns,
    * not a bare column (cents per the q14 discipline: the 10⁻⁴-dollar
    * product form leaves only ~16× headroom on the per-(nation, year)
    * sums at 100 TB row counts; cents keep ~1600×). The part-name
    * class filter is the classic LIKE '%green%' form (here '%gear%').
    * One fact shuffle (lineitem × orders); part and the
    * supplier→nation arm broadcast. */
  def q9ProductProfit(s: SparkSession, d: String): DataFrame = {
    val suppNation = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val profit =
      floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
        lit(100.0)).cast("long") -
      (floor(col("p_retailprice") * lit(100.0)).cast("long") *
        col("l_quantity").cast("long"))
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
        .filter(col("p_name").like("%gear%"))
        .select(col("p_partkey"), col("p_retailprice"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("l_suppkey"), profit.as("profit_c"))
      .join(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(col("profit_c")).as("profit_c"))
      .orderBy(col("n_name"), col("o_year").desc)
  }
  val q9ProductProfitSql: String =
    """SELECT n_name, EXTRACT(year FROM o_orderdate) AS o_year,
      |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1e0 - l_discount) * 1e2)
      |      AS BIGINT) -
      |      CAST(FLOOR(p_retailprice * 1e2) AS BIGINT) *
      |      CAST(l_quantity AS BIGINT)) AS BIGINT) AS profit_c
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%gear%'
      |GROUP BY n_name, o_year
      |ORDER BY n_name, o_year DESC""".stripMargin

  // ---- Q20: dominant suppliers — the nested per-pair threshold rung ------
  /** TPC-H Q20 shape, the last rung of the ladder: suppliers in one
    * nation who DOMINATE some part of a name class — shipped more than
    * half that part's total volume in one year (classic Q20 gates
    * partsupp availability against half the shipped volume; with no
    * partsupp the same nested-correlated-threshold shape reads
    * dominance from the derived shipped volumes, stated identically in
    * the oracle). The two aggregation levels NEST — per-(part, supplier)
    * then per-part — so the part totals re-aggregate the pair frame
    * instead of re-scanning lineitem; the gate cross-multiplies
    * (2·qty96 > tot96, never a double fraction); the name-class filter
    * applies as a broadcast semi join (3,330 keys at sf0.1 — past the
    * Q17 pushdown cap by design, exercising the other arm of that
    * discipline); supplier and nation broadcast at the end. */
  def q20DominantSuppliers(s: SparkSession, d: String): DataFrame = {
    val lo = lit("1996-01-01 00:00:00").cast("timestamp")
    val hi = lit("1997-01-01 00:00:00").cast("timestamp")
    val redParts = Tables.part(s, d)
      .filter(col("p_name").like("red%")).select(col("p_partkey"))
    val pairs = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"),
        "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("qty96"))
    val tot = pairs.groupBy(col("l_partkey").as("k"))
      .agg(sum(col("qty96")).as("tot96"))
    val natSupp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .filter(col("n_name") === "NATION_3").select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"))
    pairs.join(tot, col("l_partkey") === col("k"))
      .filter(col("qty96") * lit(2L) > col("tot96"))
      .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("n_dominant_parts"))
      .orderBy(col("s_suppkey"))
  }
  val q20DominantSuppliersSql: String =
    """WITH l AS (
      |  SELECT l_partkey, l_suppkey, CAST(l_quantity AS BIGINT) AS qty
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |    AND l_partkey IN (SELECT p_partkey FROM part
      |      WHERE p_name LIKE 'red%')),
      |pairs AS (
      |  SELECT l_partkey, l_suppkey, CAST(SUM(qty) AS BIGINT) AS qty96
      |  FROM l GROUP BY 1, 2),
      |tot AS (SELECT l_partkey AS k, CAST(SUM(qty96) AS BIGINT) AS tot96
      |        FROM pairs GROUP BY 1)
      |SELECT s_suppkey, s_name, COUNT(*) AS n_dominant_parts
      |FROM pairs
      |JOIN tot ON l_partkey = k
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE 2 * qty96 > tot96 AND n_name = 'NATION_3'
      |GROUP BY s_suppkey, s_name
      |ORDER BY s_suppkey""".stripMargin

  // ---- W1: latest row per key (single-shuffle max(struct) agg) -----------
  def w1LatestEventPerUser(s: SparkSession, d: String): DataFrame =
    Relational.latestPerKey(
      Tables.events(s, d), Seq("user_id"),
      Seq("ts" -> col("ts"), "event_id" -> col("event_id"),
          "event_type" -> col("event_type"), "value" -> col("value")))
      .orderBy(col("user_id"))
  val w1LatestEventPerUserSql: String =
    """SELECT user_id, ts, event_id, event_type, value FROM (
      |  SELECT user_id, ts, event_id, event_type, value,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events) t
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---- O1: recent-overview projection (filter + top-200 desc) ------------
  def o1RecentUserEvents(s: SparkSession, d: String): DataFrame =
    Relational.topN(
      Tables.events(s, d).filter(col("user_id") === 7)
        .select(col("ts"), col("event_id"), col("event_type"), col("value")),
      Seq(col("ts").desc, col("event_id").desc), 200)
  val o1RecentUserEventsSql: String =
    """SELECT ts, event_id, event_type, value FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
      |WHERE user_id = 7
      |ORDER BY ts DESC, event_id DESC LIMIT 200""".stripMargin

  // ---- O2: range-bounded history scan (as-of parameterized) --------------
  def o2RangeScan(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    // range predicate on the PHYSICAL column → PushedFilters. Under the
    // micros encoding that column is `ts_raw` (a timestamp, bounded by a
    // same-type literal); under the nanos one it is `ts_ns` (a long,
    // bounded in nanos: ts_ns >= µs*1000 ⟺ floor(ts_ns/1000) >= µs for
    // integer bounds). Both are the untransformed file column, so the
    // scan prunes row groups instead of reading the full table.
    val bound = lit(AsOf).cast("timestamp") - expr("INTERVAL 7 DAYS")
    ev.filter(
        if (ev.columns.contains("ts_raw"))
          col("ts_raw") >= bound.cast(ev.schema("ts_raw").dataType)
        else col("ts_ns") >= unix_micros(bound) * 1000)
      .filter(col("user_id") === 3)
      .select(col("ts"), col("event_id"), col("event_type"), col("value"))
      .orderBy(col("ts").asc, col("event_id").asc)
  }
  val o2RangeScanSql: String =
    s"""SELECT ts, event_id, event_type, value FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
       |WHERE ts >= TIMESTAMP '$AsOf' - INTERVAL 7 DAY AND user_id = 3
       |ORDER BY ts ASC, event_id ASC""".stripMargin

  // ---- A8: daily rollup ---------------------------------------------------
  def a8DailyRollup(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.groupBy(to_date(col("ts")).as("day"))
      .agg(
        round(sum(col("value").cast("decimal(12,2)")).cast("double") / count(lit(1)), 6)
          .as("avg_value"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"),
        count(lit(1)).as("n_events"))
      .orderBy(col("day"))
  }
  val a8DailyRollupSql: String =
    """SELECT CAST(ts AS DATE) AS day,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS avg_value,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
      |  COUNT(*) AS n_events
      |FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events GROUP BY CAST(ts AS DATE) ORDER BY day""".stripMargin

  // ---- SCD Type-2: change log → validity intervals -------------------------
  def scd2Intervals(s: SparkSession, d: String): DataFrame =
    Relational.scd2(Tables.events(s, d), Seq("user_id"), "event_type",
        "ts", "event_id")
      .orderBy(col("user_id"), col("valid_from"), col("change_id"))
  val scd2IntervalsSql: String =
    """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
      |marked AS (
      |  SELECT user_id, event_type, ts, event_id,
      |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM ev),
      |changes AS (SELECT * FROM marked WHERE prev IS NULL OR prev <> event_type)
      |SELECT user_id, event_type AS state, ts AS valid_from,
      |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
      |       event_id AS change_id,
      |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
      |FROM changes ORDER BY user_id, valid_from, change_id""".stripMargin

  // ---- incremental rollup maintenance: merged partials ≡ full recompute ----
  /** The oracle RECOMPUTES from all of history; the engine merges a
    * standing pre-cutoff rollup with a delta partial — hash-matching the
    * recompute is the proof that nightly maintenance can stay delta-sized. */
  val RollupCutoff = "2024-01-20 00:00:00"
  def rollupMaintain(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val cutoff = lit(RollupCutoff).cast("timestamp")
    val standing = Relational.rollupPartial(
      ev.filter(col("ts") < cutoff), "ts", "event_type", "value")
    val delta = Relational.rollupPartial(
      ev.filter(col("ts") >= cutoff), "ts", "event_type", "value")
    Relational.rollupMerge(standing, delta)
      .select(col("day"), col("event_type"), col("n_events"),
        col("sum_dec").cast("double").as("sum_value"))
      .orderBy(col("day"), col("event_type"))
  }
  val rollupMaintainSql: String =
    """SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
      |GROUP BY day, event_type ORDER BY day, event_type""".stripMargin

  // ---- incremental JOIN-view maintenance (insert-only deltas) --------------
  /** The join sibling of rollup_maintain: a materialized orders⋈customer
    * view kept fresh under insert-only deltas by the Blakeley 3-term
    * increment ([[Relational.joinViewIncrement]] — standing sides only
    * PROBED by broadcast deltas, never re-shuffled), with the residue
    * classes `o_orderkey ≡ 0 (mod 10)` / custkey `≡ 0 (mod 7)` playing
    * tonight's arrivals on BOTH sides at once (incl. a delta order whose
    * customer is also a delta — the dA⋈dB term a naive two-term
    * maintenance silently drops). The oracle RECOMPUTES the full join;
    * hash-matching it is the proof the maintained view never drifts. */
  def viewJoinMaintain(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val cust = Tables.customer(s, d)
      .select(col("c_custkey").as("o_custkey"), col("c_name"),
        col("c_nationkey"))
    val (aOld, dA) = (orders.filter(col("o_orderkey") % 10 =!= 0),
      orders.filter(col("o_orderkey") % 10 === 0))
    val (bOld, dB) = (cust.filter(col("o_custkey") % 7 =!= 0),
      cust.filter(col("o_custkey") % 7 === 0))
    val standing = aOld.join(bOld, Seq("o_custkey")) // the stored view's stand-in
    standing.unionByName(
        Relational.joinViewIncrement(aOld, dA, bOld, dB, Seq("o_custkey")))
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
        col("c_nationkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }
  val viewJoinMaintainSql: String =
    """SELECT o_orderkey, o_custkey, c_name, c_nationkey, o_totalprice
      |FROM orders JOIN customer ON c_custkey = o_custkey
      |ORDER BY o_orderkey""".stripMargin

  // ---- cohort retention matrix ----------------------------------------------
  /** Users cohorted by first-seen week; each cohort's active-user count
    * and retention rate at every week offset — the classic engagement
    * read, all exact integer counts + one final division. Shapes: two
    * aggregations over events (both map-side combinable) and joins on
    * user/cohort keys; the matrix is |weeks|² rows. */
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort_week"))
    val activity = ev.select(col("user_id"),
      to_date(date_trunc("week", col("ts"))).as("act_week")).distinct()
    val sizes = firstSeen.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    activity.join(firstSeen, "user_id")
      .withColumn("week_offset",
        (datediff(col("act_week"), col("cohort_week")) / 7).cast("int"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(sizes, "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size").cast("double"))
          .as("retention"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }
  val cohortRetentionSql: String =
    """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
      |first_seen AS (
      |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      |  FROM ev GROUP BY user_id),
      |activity AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS act_week FROM ev),
      |sizes AS (SELECT cohort_week, COUNT(*) AS cohort_size FROM first_seen GROUP BY cohort_week),
      |m AS (
      |  SELECT f.cohort_week,
      |         CAST(date_diff('day', f.cohort_week, a.act_week) // 7 AS INTEGER) AS week_offset,
      |         COUNT(DISTINCT a.user_id) AS n_active
      |  FROM activity a JOIN first_seen f USING (user_id)
      |  GROUP BY f.cohort_week, week_offset)
      |SELECT m.cohort_week, m.week_offset, m.n_active, s.cohort_size,
      |  CAST(m.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE) AS retention
      |FROM m JOIN sizes s USING (cohort_week)
      |ORDER BY cohort_week, week_offset""".stripMargin

  // -------------------------------------------------------------------------

  // ---- cohort LTV: cumulative quantized value per cohort × week offset -----
  /** The value half of [[cohortRetention]]'s activity matrix: per
    * (cohort week, week offset), the quantized purchase value that
    * cohort generated that week PLUS the running cumulative — the LTV
    * curve whose flattening point tells a product team when a cohort
    * stops paying back. Raw events aggregate once into the tiny
    * cohort×offset table; the cumulative is a window over THAT table
    * (bounded by weeks², never data rows), and all sums are
    * micro-quantized longs — the oracle replays the same prefix sums
    * exactly. */
  def cohortLtv(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort_week"))
    val w = Window.partitionBy(col("cohort_week")).orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, 0)
    ev.filter(col("event_type") === "purchase")
      .join(firstSeen, "user_id")
      .withColumn("week_offset",
        (datediff(to_date(date_trunc("week", col("ts"))),
          col("cohort_week")) / 7).cast("int"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("qvalue"))
      .withColumn("cum_qvalue", sum(col("qvalue")).over(w))
      .orderBy(col("cohort_week"), col("week_offset"))
  }
  val cohortLtvSql: String =
    """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
      |first_seen AS (
      |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      |  FROM ev GROUP BY user_id),
      |m AS (
      |  SELECT f.cohort_week,
      |         CAST(date_diff('day', f.cohort_week,
      |           CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS INTEGER) AS week_offset,
      |         CAST(SUM(CAST(FLOOR(e.value * 1e6) AS BIGINT)) AS BIGINT) AS qvalue
      |  FROM ev e JOIN first_seen f USING (user_id)
      |  WHERE e.event_type = 'purchase'
      |  GROUP BY f.cohort_week, week_offset)
      |SELECT cohort_week, week_offset, qvalue,
      |  CAST(SUM(qvalue) OVER (PARTITION BY cohort_week ORDER BY week_offset
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_qvalue
      |FROM m ORDER BY cohort_week, week_offset""".stripMargin

  /** Recency-DISCOUNTED cohort value — the "what is this cohort worth
    * NOW" read the raw LTV curve overstates (old revenue counts the
    * same as last week's): each week-offset bucket's quantized value is
    * exponentially decayed with a one-week half-life, stated as an
    * ARITHMETIC RIGHT SHIFT (qvalue >> offset) so the decay is
    * division-free integer arithmetic both engines replay bitwise —
    * the same shift-not-divide discipline as the EWMA/Holt recurrences
    * (a float 0.5^k would be the banned pow). The shift clamps at 62:
    * beyond that the contribution is integer zero anyway, and >= 63/64
    * shift semantics are engine-specific (Java masks the shift amount
    * mod 64) — the clamp pins the portable regime. One scan builds the
    * tiny cohort×offset table; the decay folds it to one row per
    * cohort. Output: (cohort_week, n_weeks, raw_qvalue,
    * decayed_qvalue). */
  def cohortLtvDecayed(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort_week"))
    ev.filter(col("event_type") === "purchase")
      .join(firstSeen, "user_id")
      .withColumn("week_offset",
        (datediff(to_date(date_trunc("week", col("ts"))),
          col("cohort_week")) / 7).cast("int"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(sum(floor(col("value") * 1e6).cast("long")).as("qvalue"))
      .groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_weeks"),
        sum(col("qvalue")).as("raw_qvalue"),
        sum(expr("shiftright(qvalue, cast(least(week_offset, 62) as int))"))
          .as("decayed_qvalue"))
      .orderBy(col("cohort_week"))
  }
  val cohortLtvDecayedSql: String =
    """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events),
      |first_seen AS (
      |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      |  FROM ev GROUP BY user_id),
      |m AS (
      |  SELECT f.cohort_week,
      |         CAST(date_diff('day', f.cohort_week,
      |           CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS INTEGER) AS week_offset,
      |         CAST(SUM(CAST(FLOOR(e.value * 1e6) AS BIGINT)) AS BIGINT) AS qvalue
      |  FROM ev e JOIN first_seen f USING (user_id)
      |  WHERE e.event_type = 'purchase'
      |  GROUP BY f.cohort_week, week_offset)
      |SELECT cohort_week, COUNT(*) AS n_weeks,
      |  CAST(SUM(qvalue) AS BIGINT) AS raw_qvalue,
      |  CAST(SUM(qvalue >> LEAST(week_offset, 62)) AS BIGINT) AS decayed_qvalue
      |FROM m GROUP BY cohort_week ORDER BY cohort_week""".stripMargin

  /** Major COMPACTION served through the graded gate — the last store
    * verb that was spec-only (commit/append/restore/delete-rows already
    * grade): a month of small nightly append commits collapses into ONE
    * re-clustered data dir via the copy-on-write rewrite commit, and
    * the head read afterwards must be byte-for-byte the same CONTENT
    * (the oracle recomputes it from source — a compaction that drops,
    * duplicates, or mutates rows hash-mismatches). The construction
    * asserts the physical claim the oracle can't see: the pre-compact
    * manifest really held the four append dirs, the post-compact
    * manifest exactly one, and pre-compact history still time-travels.
    * At 100 TB compaction is what keeps file count — scan tasks, open()
    * round-trips, footer reads — from growing with APPEND COUNT while
    * content stays fixed. */
  private val snapCompactCache =
    new graft.operators.BoundedMemo[String, String]("core.snapCompactCache")

  def snapshotCompact(s: SparkSession, d: String): DataFrame = {
    import graft.sources.PartitionedStore
    val docs = Tables.documents(s, d)
    val path = snapCompactCache.computeIfAbsent(d, _ => {
      val p = graft.Scratch.dir("graft_snapcompact")
      PartitionedStore.commitVersion(
        docs.filter(col("doc_id") % 4 === 0)
          .select(col("doc_id"), col("n_chars")), p)
      (1 to 3).foreach { r =>
        PartitionedStore.commitVersion(
          docs.filter(col("doc_id") % 4 === r)
            .select(col("doc_id"), col("n_chars")), p, append = true)
      }
      val pre = PartitionedStore.versions(p).last
      require(PartitionedStore.versionDirs(p, pre).size == 4,
        "fixture must accumulate four append dirs before compaction")
      val cv = PartitionedStore.compactVersion(s, p)
      require(PartitionedStore.versionDirs(p, cv).size == 1,
        "compaction must collapse the manifest to one data dir")
      require(PartitionedStore.readVersion(s, p, Some(pre)).count() ==
        PartitionedStore.readVersion(s, p, Some(cv)).count(),
        "pre-compact history must still time-travel")
      p
    })
    PartitionedStore.readVersion(s, path) // head = the compacted rewrite
      .groupBy((col("doc_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("bucket"))
  }
  val snapshotCompactSql: String =
    """SELECT doc_id % 10 AS bucket, count(*) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  /** 2-D rectangle scan over a Z-ORDER layout served through the graded
    * gate (previously spec-only): events land once in a Morton-bucketed
    * store — partition dirs keyed on the interleave of (user_id, value)
    * buckets — and the rectangle read enumerates only the intersecting
    * cells as a partition IN-filter (static pruning; the cell loop is
    * 4^prefixBits planning-side ids) plus the exact residual
    * predicates. Domain bounds are fixed control-plane constants;
    * out-of-domain rows clamp into edge cells and the residual
    * predicate keeps the answer exact at any SF — which is what lets
    * ONE oracle statement (the naive WHERE) grade the layout at every
    * scale. The construction asserts the pruning is real: the
    * rectangle scan must touch strictly fewer files than the store
    * holds. At 100 TB this is reading a rectangle instead of a
    * stripe. */
  private val zorderCache =
    new graft.operators.BoundedMemo[String, String]("core.zorderCache")

  def o9ZorderScan(s: SparkSession, d: String): DataFrame = {
    import graft.sources.PartitionedStore
    val path = zorderCache.computeIfAbsent(d, _ => {
      val p = graft.Scratch.dir("graft_zorder") + "/store"
      PartitionedStore.zorderWrite(
        Tables.events(s, d).select(col("event_id"),
          col("user_id").cast("double").as("u"), col("value")),
        p, "u", "value", 0.0, 2000.0, 0.0, 100.0)
      p
    })
    // static pruning (the zb IN-list landing in PartitionFilters, cells
    // 2×3 of 64) is pinned by PlanAuditSpec — plan assertions live in
    // the audit, not on the per-call hot path
    PartitionedStore.zorderScan(s, path, "u", "value",
        0.0, 2000.0, 0.0, 100.0, 100.0, 300.0, 10.0, 30.0)
      .select(col("event_id"), col("u").cast("long").as("user_id"),
        col("value"))
      .orderBy(col("event_id"))
  }
  // no ts column read → the NANOS/MICROS REPLACE wrapper is unnecessary
  val o9ZorderScanSql: String =
    """SELECT event_id, user_id, value FROM events
      |WHERE user_id BETWEEN 100 AND 300 AND value BETWEEN 10 AND 30
      |ORDER BY event_id""".stripMargin

  // ---- Zipf-keyed shuffle join: plain vs salted -----------------------------
  /** Deliberately skewed join fixture: 3/4 of all event rows collapse
    * onto one 'hot' key, the rest spread over 25 cold keys (user_id ≡ 0
    * mod 4 reaches only the even residues mod 50) — the Zipf
    * head every real activity stream has. Both variants return identical
    * rows (one shared oracle); the PAIR exists so the bench shows what
    * salting buys on a skewed shuffle and the plan audit pins the salted
    * exchange shape. The merge-join hint forces the shuffle path: at
    * this SF Spark would broadcast the small build side away (the right
    * call when a side IS small — salting is for the two-big-sides case
    * this fixture simulates; [[graft.operators.Relational.saltedJoin]]'s
    * scaladoc says the same). */
  private def skewProbe(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      when(col("user_id") % 4 =!= 0, lit("hot"))
        .otherwise(concat(lit("u"), (col("user_id") % 50).cast("string"))).as("k"),
      floor(col("value") * lit(1.0e2)).cast("long").as("cents"))

  private def skewBuild(s: SparkSession, d: String): DataFrame =
    skewProbe(s, d).select(col("k")).distinct()
      .crossJoin(broadcast(s.range(0, 200).select(col("id").as("slot"))))

  private def skewAgg(joined: DataFrame): DataFrame =
    joined.groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("slot")).as("sum_slot"),
        sum(col("cents")).as("sum_cents"))
      .orderBy(col("k"))

  def skewJoinPlain(s: SparkSession, d: String): DataFrame =
    skewAgg(skewProbe(s, d).join(skewBuild(s, d).hint("merge"), "k"))

  def skewJoinSalted(s: SparkSession, d: String): DataFrame =
    skewAgg(Relational.saltedJoin(skewProbe(s, d),
      skewBuild(s, d).hint("merge"), Seq("k"), Seq("cents"), buckets = 16))

  /** Shared by both variants — the salt must be invisible in the answer. */
  val skewJoinSql: String =
    """WITH probe AS (
      |  SELECT CASE WHEN user_id % 4 <> 0 THEN 'hot'
      |              ELSE 'u' || CAST(user_id % 50 AS VARCHAR) END AS k,
      |         CAST(floor(value * 1.0e2) AS BIGINT) AS cents
      |  FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
      |), build AS (
      |  SELECT k, slot
      |  FROM (SELECT DISTINCT k FROM probe), (SELECT unnest(range(0, 200)) AS slot)
      |)
      |SELECT k, COUNT(*) AS n_pairs, CAST(SUM(slot) AS BIGINT) AS sum_slot,
      |       CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM probe JOIN build USING (k)
      |GROUP BY k ORDER BY k""".stripMargin

  // ---- snapshot diff over the versioned store ------------------------------
  /** Time-travel composition — the versioned store's first oracle-backed
    * query, now MANIFEST-PRUNED: the corpus is committed so that the
    * stable bulk (doc_id % 7 ≠ 0 ∧ % 5 ≠ 0, ~76% of rows, full text
    * payload) lives in its own data directory shared by both diffed
    * versions, the churn rows (% 5 ≡ 0, % 7 ≠ 0) in a second dir, and
    * the new version is a copy-on-write rewrite commit that drops the
    * churn dir and adds one dir holding the edited churn + the new
    * % 7 ≡ 0 docs. [[graft.sources.PartitionedStore.diffVersions]] then
    * intersects the two manifests and scans ONLY the two delta dirs —
    * the bulk dir's files never appear in the plan (pinned by
    * VersionedStoreSpec's inputFiles assertion), so diff cost tracks
    * the churn, not the corpus. Semantics are unchanged: the old
    * snapshot is all % 7 ≠ 0 docs, the new one every doc with % 5 ≡ 0
    * texts edited, and the oracle replays the construction arithmetic
    * straight from `documents` — a wrong manifest, a non-isolated
    * rewrite commit, or a diff that misses a rewritten row all
    * hash-mismatch. Commits memoized per corpus (a snapshot is
    * committed once by definition). */
  private val snapDiffCache =
    new graft.operators.BoundedMemo[String, String]("core.snapDiffCache")

  /** RESTORE served through the read path: v1 = the stable doc bulk,
    * v2 = an appended delta, v3 = `restoreVersion(v1)` — a metadata-only
    * rollback (no data moved at any table size). The HEAD read after the
    * restore must be exactly v1's content, which the oracle recomputes
    * straight from `documents`; a restore that leaked the appended dir,
    * dropped bulk rows, or rewrote data instead of manifests
    * hash-mismatches. Rolled-over history stays readable
    * (VersionedStoreSpec pins that plus vacuum safety). */
  private val snapRestoreCache =
    new graft.operators.BoundedMemo[String, String]("core.snapRestoreCache")

  def snapshotRestore(s: SparkSession, d: String): DataFrame = {
    import graft.sources.PartitionedStore
    val docs = Tables.documents(s, d)
    val path = snapRestoreCache.computeIfAbsent(d, _ => {
      val p = graft.Scratch.dir("graft_snaprestore")
      val v1 = PartitionedStore.commitVersion(
        docs.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), col("n_chars")), p)
      PartitionedStore.commitVersion(
        docs.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"), col("n_chars")), p, append = true)
      PartitionedStore.restoreVersion(p, v1)
      p
    })
    PartitionedStore.readVersion(s, path) // head = the restored v1
      .groupBy((col("doc_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("bucket"))
  }
  val snapshotRestoreSql: String =
    """SELECT doc_id % 10 AS bucket, count(*) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE doc_id % 7 <> 0
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Row-level DELETE on the versioned FACT store, served through the
    * read path: v1 = the stable doc bulk (% 7 ≠ 0), v2 = an appended
    * churn dir (% 7 ≡ 0), then `deleteRows(doc_id % 14 = 0)` — a
    * predicate whose matches live ONLY in the churn dir, so the
    * copy-on-write rewrite touches exactly that dir while the stable
    * bulk's files never enter the rewrite plan (the construction
    * ASSERTS it: rewritten dirs ≡ the churn dir, and the bulk dir must
    * survive into the head manifest BY REFERENCE — a delete that
    * rewrote the bulk fails the query before any row is served;
    * VersionedStoreSpec pins the same plus time travel and no-op
    * semantics). The HEAD read after the delete must be exactly
    * "all docs minus the predicate", which the oracle recomputes
    * straight from `documents`; a delete that dropped survivors from
    * the dirty dir, kept a matching row, or leaked the pre-delete dir
    * hash-mismatches. */
  private val snapDeleteCache =
    new graft.operators.BoundedMemo[String, String]("core.snapDeleteCache")

  private def snapDeleteStore(s: SparkSession, d: String): String =
    snapDeleteCache.computeIfAbsent(d, _ => {
      import graft.sources.PartitionedStore
      val docs = Tables.documents(s, d)
      val p = graft.Scratch.dir("graft_snapdelete")
      PartitionedStore.commitVersion(
        docs.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), col("n_chars")), p)
      PartitionedStore.commitVersion(
        docs.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"), col("n_chars")), p, append = true)
      val bulkDir = PartitionedStore.versionDirs(p, 1L)
      val churnDir = (PartitionedStore.versionDirs(p, 2L).toSet --
        bulkDir.toSet).toSeq
      val (nv, rewritten) = PartitionedStore.deleteRows(
        s, p, col("doc_id") % 14 === 0)
      require(rewritten == churnDir,
        s"delete must rewrite exactly the churn dir, got $rewritten")
      require(bulkDir.forall(
        PartitionedStore.versionDirs(p, nv).contains),
        "stable bulk dir must survive the delete by reference")
      p
    })

  def snapshotDeleteRows(s: SparkSession, d: String): DataFrame = {
    import graft.sources.PartitionedStore
    PartitionedStore.readVersion(s, snapDeleteStore(s, d)) // head = facts minus predicate
      .groupBy((col("doc_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("bucket"))
  }

  /** The takedown AUDIT trail: [[snapshotDeleteRows]]' delete commit
    * read back through the manifest-pruned snapshot diff — who exactly
    * left the table, without scanning either version in full. The diff
    * intersects the pre/post manifests, so it reads ONLY the two dirs
    * the delete touched (the churn dir and its survivors rewrite); the
    * stable bulk — shared by both manifests — contributes zero bytes.
    * Survivors rewritten byte-identically classify `same` and drop
    * out, leaving exactly the deleted rows with their last-seen
    * content hash: the right-to-be-forgotten receipt a compliance job
    * files. Oracle = the predicate's matches straight from source. */
  def snapshotDeleteAudit(s: SparkSession, d: String): DataFrame = {
    import graft.sources.PartitionedStore
    val path = snapDeleteStore(s, d)
    PartitionedStore.diffVersions(s, path, 2L, 3L, "doc_id",
        md5(col("n_chars").cast("string")))
      .select(col("doc_id"), col("op"), col("old_hash"))
      .orderBy(col("doc_id"))
  }
  val snapshotDeleteAuditSql: String =
    """SELECT doc_id, 'removed' AS op,
      |  md5(CAST(n_chars AS VARCHAR)) AS old_hash
      |FROM documents WHERE doc_id % 14 = 0
      |ORDER BY doc_id""".stripMargin
  val snapshotDeleteRowsSql: String =
    """SELECT doc_id % 10 AS bucket, count(*) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE doc_id % 14 <> 0
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Row-level MERGE on the versioned FACT store, served through the
    * read path: the same bulk/churn construction as
    * [[snapshotDeleteRows]] (v1 = % 7 ≠ 0 bulk, v2 = % 7 ≡ 0 churn
    * dir), then ONE `upsertRows` whose delta mixes both merge arms —
    * updates (`% 14 ≡ 0` keys get n_chars + 1000, keys that live only
    * in the churn dir) and inserts (fresh `doc_id + 10⁶` keys derived
    * from the `% 14 ≡ 7` rows, present in no dir). The construction
    * asserts the physical half the oracle can't see: rewritten dirs ≡
    * the churn dir alone (an upsert that rewrote the stable bulk
    * fails before serving), bulk survives by reference. The HEAD read
    * must equal bulk ∪ churn-with-updates-applied ∪ inserts, which
    * the oracle recomputes straight from `documents`; a merge that
    * dropped a survivor, kept a stale matched row, or lost an insert
    * hash-mismatches. VersionedStoreSpec pins time travel, the
    * insert-only-rewrites-nothing contract, and empty-delta no-op. */
  private val snapUpsertCache =
    new graft.operators.BoundedMemo[String, String]("core.snapUpsertCache")

  private def snapUpsertStore(s: SparkSession, d: String): String =
    snapUpsertCache.computeIfAbsent(d, _ => {
      import graft.sources.PartitionedStore
      val docs = Tables.documents(s, d)
      val p = graft.Scratch.dir("graft_snapupsert")
      PartitionedStore.commitVersion(
        docs.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), col("n_chars")), p)
      PartitionedStore.commitVersion(
        docs.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"), col("n_chars")), p, append = true)
      val bulkDir = PartitionedStore.versionDirs(p, 1L)
      val churnDir = (PartitionedStore.versionDirs(p, 2L).toSet --
        bulkDir.toSet).toSeq
      val delta = docs.filter(col("doc_id") % 14 === 0)
        .select(col("doc_id"), (col("n_chars") + 1000L).as("n_chars"))
        .unionByName(docs.filter(col("doc_id") % 14 === 7)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            col("n_chars")))
      val (nv, rewritten) = PartitionedStore.upsertRows(s, p, delta,
        "doc_id")
      require(rewritten == churnDir,
        s"upsert must rewrite exactly the churn dir, got $rewritten")
      require(bulkDir.forall(
        PartitionedStore.versionDirs(p, nv).contains),
        "stable bulk dir must survive the upsert by reference")
      p
    })

  def snapshotUpsert(s: SparkSession, d: String): DataFrame = {
    import graft.sources.PartitionedStore
    PartitionedStore.readVersion(s, snapUpsertStore(s, d))
      .groupBy((col("doc_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("bucket"))
  }

  val snapshotUpsertSql: String =
    """WITH head AS (
      |  SELECT doc_id, n_chars FROM documents WHERE doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT doc_id,
      |         n_chars + CASE WHEN doc_id % 14 = 0 THEN 1000 ELSE 0 END
      |  FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, n_chars FROM documents WHERE doc_id % 14 = 7
      |)
      |SELECT doc_id % 10 AS bucket, count(*) AS n,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM head GROUP BY 1 ORDER BY bucket""".stripMargin

  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    import graft.sources.PartitionedStore
    val docs = Tables.documents(s, d)
    val path = snapDiffCache.computeIfAbsent(d, _ => {
      val p = graft.Scratch.dir("graft_snapdiff")
      val churn = col("doc_id") % 5 === 0 && col("doc_id") % 7 =!= 0
      // v1: the stable bulk alone; v2: + churn dir = the full old snapshot
      PartitionedStore.commitVersion(
        docs.filter(col("doc_id") % 7 =!= 0 && !churn)
          .select(col("doc_id"), col("text")), p)
      PartitionedStore.commitVersion(
        docs.filter(churn).select(col("doc_id"), col("text")), p, append = true)
      // v3: rewrite — drop the churn dir, add edited churn + new %7 docs
      val churnDir = (PartitionedStore.versionDirs(p, 2L).toSet --
        PartitionedStore.versionDirs(p, 1L).toSet).toSeq
      PartitionedStore.commitVersion(
        docs.filter(churn || col("doc_id") % 7 === 0)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text")),
        p, append = true, dropDirs = churnDir)
      p
    })
    PartitionedStore.diffVersions(s, path, 2L, 3L, "doc_id", md5(col("text")))
      .select(col("doc_id"), col("op"), col("new_hash").as("v2_md5"))
      .orderBy(col("doc_id"))
  }
  val snapshotDiffSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 7 = 0 THEN 'added' ELSE 'changed' END AS op,
      |  md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS v2_md5
      |FROM documents
      |WHERE doc_id % 7 = 0 OR (doc_id % 5 = 0 AND doc_id % 7 <> 0)
      |ORDER BY doc_id""".stripMargin

  // ---- J11: binned interval join (no equi key) ----------------------------
  /** Purchases inside any error-incident window [error.ts, +5 min) —
    * point-in-interval with NO join key, made hash-joinable by binning
    * ([[Relational.intervalJoin]]; bin width = the window length, so each
    * interval spans ≤ 2 bins). The oracle states the naive range
    * predicate directly; lag arithmetic is integer micros on both sides
    * (DuckDB `date_diff('second', …)` counts boundary crossings, NOT
    * elapsed seconds — epoch_us subtraction is the parity-safe form). */
  def j11IntervalJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val winUs = 5L * 60 * 1000000
    val pts = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), unix_micros(col("ts")).as("t_us"))
    val win = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("wid"), unix_micros(col("ts")).as("lo"),
        (unix_micros(col("ts")) + winUs).as("hi"))
    Relational.intervalJoin(pts, "t_us", win, "lo", "hi", binWidth = winUs)
      .select(col("event_id"), col("wid"),
        expr("(t_us - lo) DIV 1000000").as("lag_s"))
      .orderBy(col("event_id"), col("wid"))
  }

  val j11IntervalJoinSql: String =
    """WITH ev AS (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)
      |SELECT e.event_id, w.event_id AS wid,
      |       (epoch_us(e.ts) - epoch_us(w.ts)) // 1000000 AS lag_s
      |FROM ev e JOIN ev w
      |  ON e.ts >= w.ts AND e.ts < w.ts + INTERVAL 5 MINUTE
      |WHERE e.event_type = 'purchase' AND w.event_type = 'error'
      |ORDER BY 1, 2""".stripMargin

  // ---- A19: MAD robust outliers -------------------------------------------
  /** Per-event-type anomalies by the k=5 MAD rule over cents-quantized
    * values. Engine side selects medians by histogram crossing (no
    * per-row window); the oracle states the same lower-median selection
    * via row_number — rank r falls inside the bucket where the
    * cumulative count crosses r, so the two formulations agree exactly. */
  def a19MadOutliers(s: SparkSession, d: String): DataFrame =
    Relational.madOutliers(Tables.events(s, d), "event_type", "event_id",
      expr("CAST(FLOOR(value * 1e2) AS BIGINT)"), k = 5L)
      .select(col("id").as("event_id"), col("g").as("event_type"),
        col("qc").as("value_c"), col("med_c"), col("mad_c"), col("dev_c"))
      .orderBy(col("event_id"))

  val a19MadOutliersSql: String =
    """WITH q AS (
      |  SELECT event_id, event_type, CAST(FLOOR(value * 1e2) AS BIGINT) AS qc
      |  FROM events),
      |rn AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY qc, event_id) AS rn,
      |              count(*) OVER (PARTITION BY event_type) AS n FROM q),
      |med AS (SELECT event_type, qc AS med_c FROM rn WHERE rn = (n + 1) // 2),
      |ad AS (SELECT q.event_id, q.event_type, q.qc, m.med_c,
      |              abs(q.qc - m.med_c) AS dev_c
      |       FROM q JOIN med m USING (event_type)),
      |rn2 AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dev_c, event_id) AS rn,
      |               count(*) OVER (PARTITION BY event_type) AS n FROM ad),
      |mad AS (SELECT event_type, dev_c AS mad_c FROM rn2 WHERE rn = (n + 1) // 2)
      |SELECT a.event_id, a.event_type, a.qc AS value_c, a.med_c, d.mad_c, a.dev_c
      |FROM ad a JOIN mad d USING (event_type)
      |WHERE a.dev_c > 5 * d.mad_c
      |ORDER BY event_id""".stripMargin

  // ---- A20: per-group winsorization at exact 5% / 95% ----------------------
  /** Every event row with its cents value clipped into the exact
    * [p05, p95] of its type's distribution — cutoffs by histogram
    * crossing ([[Relational.winsorize]]), the oracle by the naive
    * row_number rank selection the crossing must equal. */
  def a20Winsorize(s: SparkSession, d: String): DataFrame =
    Relational.winsorize(Tables.events(s, d), "event_type", "event_id",
      expr("CAST(FLOOR(value * 1e2) AS BIGINT)"), pNum = 1L, pDen = 20L)
      .select(col("id").as("event_id"), col("g").as("event_type"),
        col("qc").as("value_c"), col("lo_c"), col("hi_c"),
        col("clipped"), col("was_clipped"))
      .orderBy(col("event_id"))

  val a20WinsorizeSql: String =
    """WITH q AS (
      |  SELECT event_id, event_type, CAST(FLOOR(value * 1e2) AS BIGINT) AS qc
      |  FROM events),
      |rn AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY qc, event_id) AS rn,
      |              count(*) OVER (PARTITION BY event_type) AS n FROM q),
      |lo AS (SELECT event_type, qc AS lo_c FROM rn
      |       WHERE rn = (n * 1 + 20 - 1) // 20),
      |hi AS (SELECT event_type, qc AS hi_c FROM rn
      |       WHERE rn = n - (n * 1 + 20 - 1) // 20 + 1)
      |SELECT q.event_id, q.event_type, q.qc AS value_c, lo.lo_c, hi.hi_c,
      |       least(greatest(q.qc, lo.lo_c), hi.hi_c) AS clipped,
      |       q.qc < lo.lo_c OR q.qc > hi.hi_c AS was_clipped
      |FROM q JOIN lo USING (event_type) JOIN hi USING (event_type)
      |ORDER BY event_id""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("a19_mad_outliers", a19MadOutliers, a19MadOutliersSql),
    QueryDef("a20_winsorize", a20Winsorize, a20WinsorizeSql),
    QueryDef("j11_interval_join", j11IntervalJoin, j11IntervalJoinSql),
    QueryDef("q1_pricing_summary", q1PricingSummary, q1PricingSummarySql),
    QueryDef("q3_shipping_priority", q3ShippingPriority, q3ShippingPrioritySql),
    QueryDef("q18_large_volume", q18LargeVolume, q18LargeVolumeSql),
    QueryDef("q5_local_supplier", q5LocalSupplier, q5LocalSupplierSql),
    QueryDef("q7_volume_shipping", q7VolumeShipping, q7VolumeShippingSql),
    QueryDef("q10_returned_items", q10ReturnedItems, q10ReturnedItemsSql),
    QueryDef("q4_order_priority", q4OrderPriority, q4OrderPrioritySql),
    QueryDef("q21_suppliers_waiting", q21SuppliersWaiting, q21SuppliersWaitingSql),
    QueryDef("q14_promo_share", q14PromoShare, q14PromoShareSql),
    QueryDef("q22_dormant_balance", q22DormantBalance, q22DormantBalanceSql),
    QueryDef("q6_forecast_revenue", q6ForecastRevenue, q6ForecastRevenueSql),
    QueryDef("q12_priority_classes", q12PriorityClasses, q12PriorityClassesSql),
    QueryDef("q13_custdist", q13CustDist, q13CustDistSql),
    QueryDef("q15_top_supplier", q15TopSupplier, q15TopSupplierSql),
    QueryDef("q19_discounted_parts", q19DiscountedParts, q19DiscountedPartsSql),
    QueryDef("q17_small_qty_revenue", q17SmallQtyRevenue(_, _), q17SmallQtyRevenueSql),
    QueryDef("q2_min_cost_supplier", q2MinCostSupplier, q2MinCostSupplierSql),
    QueryDef("q16_supplier_counts", q16SupplierCounts, q16SupplierCountsSql),
    QueryDef("q11_important_parts", q11ImportantParts, q11ImportantPartsSql),
    QueryDef("q8_market_share", q8MarketShare, q8MarketShareSql),
    QueryDef("q9_product_profit", q9ProductProfit, q9ProductProfitSql),
    QueryDef("q20_dominant_suppliers", q20DominantSuppliers, q20DominantSuppliersSql),
    QueryDef("snapshot_diff", snapshotDiff, snapshotDiffSql),
    QueryDef("snapshot_restore", snapshotRestore, snapshotRestoreSql),
    QueryDef("snapshot_delete_rows", snapshotDeleteRows, snapshotDeleteRowsSql),
    QueryDef("snapshot_upsert", snapshotUpsert, snapshotUpsertSql),
    QueryDef("snapshot_delete_audit", snapshotDeleteAudit, snapshotDeleteAuditSql),
    QueryDef("o9_zorder_scan", o9ZorderScan, o9ZorderScanSql),
    QueryDef("snapshot_compact", snapshotCompact, snapshotCompactSql),
    QueryDef("skew_join_plain", skewJoinPlain, skewJoinSql),
    QueryDef("skew_join_salted", skewJoinSalted, skewJoinSql),
    QueryDef("w1_latest_event_per_user", w1LatestEventPerUser, w1LatestEventPerUserSql),
    QueryDef("o1_recent_user_events", o1RecentUserEvents, o1RecentUserEventsSql),
    QueryDef("o2_range_scan", o2RangeScan, o2RangeScanSql),
    QueryDef("a8_daily_rollup", a8DailyRollup, a8DailyRollupSql),
    QueryDef("scd2_intervals", scd2Intervals, scd2IntervalsSql),
    QueryDef("rollup_maintain", rollupMaintain, rollupMaintainSql),
    QueryDef("view_join_maintain", viewJoinMaintain, viewJoinMaintainSql),
    QueryDef("cohort_retention", cohortRetention, cohortRetentionSql),
    QueryDef("cohort_ltv", cohortLtv, cohortLtvSql),
    QueryDef("cohort_ltv_decayed", cohortLtvDecayed, cohortLtvDecayedSql))
}
