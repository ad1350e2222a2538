package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exec.AsOfJoin

/** Depth coverage of the relational surface beyond SURVEY §2.2's minimum:
  * grouping sets, pivot, lateral/positional explode, exact percentiles,
  * extended string functions, and the as-of temporal join (an operator
  * Spark lacks natively — see [[graft.exec.AsOfJoin]]). Every query here is
  * DuckDB-oracle-checked.
  */
object DepthQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.t(s, dir, name)

  // -------------------------------------------- q19 grouping sets + grouping()

  private def q19(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    o.groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
          Seq(col("o_orderpriority")), Seq(col("o_orderstatus")), Seq()),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(
        grouping(col("o_orderpriority")).cast("int").as("g_prio"),
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy(col("g_prio"), col("g_status"),
        col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)
  }

  private val q19Sql =
    """SELECT o_orderpriority, o_orderstatus,
      |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
      |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
      |  (o_orderpriority), (o_orderstatus), ())
      |ORDER BY g_prio, g_status, o_orderpriority NULLS FIRST,
      |  o_orderstatus NULLS FIRST""".stripMargin

  // ------------------------------------------------------------- q20 pivot

  private def q20(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("O", "F"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
      .orderBy(col("l_returnflag"))

  private val q20Sql =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN l_linestatus='O'
      |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "O",
      |  CAST(SUM(CASE WHEN l_linestatus='F'
      |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "F"
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------- q21 lateral positional explode

  private def q21(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") <= 1000)
      .select(col("o_orderkey"),
        posexplode(split(col("o_orderpriority"), "-")))
      .select(col("o_orderkey"), col("col").as("part"),
        (col("pos") + 1).cast("bigint").as("pos"))
      .orderBy(col("o_orderkey"), col("pos"))

  private val q21Sql =
    """SELECT o_orderkey,
      |  unnest(string_split(o_orderpriority, '-')) AS part,
      |  unnest(range(1, len(string_split(o_orderpriority, '-')) + 1)) AS pos
      |FROM orders WHERE o_orderkey <= 1000
      |ORDER BY o_orderkey, pos""".stripMargin

  // ----------------------------------------------- q22 exact percentiles

  private def q22(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(CAST(l_quantity AS DOUBLE), 0.5)").as("med_qty"),
        // scalar p25/p75, not an array(0.25,0.75) column: the driver's
        // correctness harness can't hash array cells (numpy.ndarray crash)
        expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.25)").as("p25"),
        expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.75)").as("p75"))
      .orderBy(col("l_returnflag"))

  private val q22Sql =
    """SELECT l_returnflag,
      |  quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS med_qty,
      |  quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25) AS p25,
      |  quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.75) AS p75
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------- q30 approximate quantiles

  /** Sketch quantiles — `approx_percentile` (Greenwald-Khanna summaries:
    * mergeable, map-side partial, bounded memory) gated against the exact
    * interpolated percentile twin, q17-HLL-style. This is the 100 TB
    * quantile path: `percentile` buffers every group value on one reducer,
    * the sketch keeps O(accuracy) entries per group no matter the corpus.
    * At accuracy 10⁴ the rank error is n/10⁴; on this price distribution
    * that is far inside the 1%-relative gate, which the oracle pins TRUE
    * alongside the exact values. */
  private def q30(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.5)").as("__e50"),
        expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.95)").as("__e95"),
        expr("approx_percentile(CAST(l_extendedprice AS DOUBLE), 0.5, 10000)")
          .as("__a50"),
        expr("approx_percentile(CAST(l_extendedprice AS DOUBLE), 0.95, 10000)")
          .as("__a95"))
      .select(col("l_returnflag"),
        round(col("__e50"), 4).as("p50_exact"),
        round(col("__e95"), 4).as("p95_exact"),
        (abs(col("__a50") / col("__e50") - 1) <= 0.01).as("ok50"),
        (abs(col("__a95") / col("__e95") - 1) <= 0.01).as("ok95"))
      .orderBy(col("l_returnflag"))

  private val q30Sql =
    """SELECT l_returnflag,
      |  round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 4)
      |    AS p50_exact,
      |  round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95), 4)
      |    AS p95_exact,
      |  TRUE AS ok50, TRUE AS ok95
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------ q23 as-of join

  /** Attach the most recent purchase (per user, at-or-before) to each
    * click — DuckDB's ASOF LEFT JOIN is the oracle. */
  private def q23(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click" && col("user_id") <= 200)
      .select(col("user_id"), col("event_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    AsOfJoin.backward(clicks, purchases, Seq("user_id"), "ts", "ts")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").cast("timestamp_ntz").as("click_ts"),
        col("r_event_id").as("purchase_id"),
        round(col("r_value"), 6).as("purchase_value"))
      .orderBy(col("user_id"), col("click_id"))
  }

  private val q23Sql =
    """SELECT l.user_id, l.event_id AS click_id, l.ts AS click_ts,
      |  r.event_id AS purchase_id, round(r.value, 6) AS purchase_value
      |FROM (SELECT user_id, event_id, ts FROM events
      |      WHERE event_type = 'click' AND user_id <= 200) l
      |ASOF LEFT JOIN (SELECT user_id, event_id, ts, value FROM events
      |      WHERE event_type = 'purchase') r
      |  ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY l.user_id, click_id""".stripMargin

  // ------------------------------------------- f09 extended string surface

  private def f09(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") <= 500)
      .select(col("o_orderkey"),
        lpad(col("o_orderpriority"), 12, "*").as("lp"),
        rpad(col("o_orderstatus"), 3, ".").as("rp"),
        reverse(col("o_orderpriority")).as("rev"),
        ascii(col("o_orderstatus")).as("asc_c"),
        translate(col("o_orderpriority"), "-AEIOU", "_aeiou").as("tr"),
        repeat(col("o_orderstatus"), 3).as("rep"),
        locate("URGENT", col("o_orderpriority")).cast("long").as("sp"),
        initcap(lower(col("o_orderpriority"))).as("ic"))
      .orderBy(col("o_orderkey"))

  private val f09Sql =
    """SELECT o_orderkey,
      |  lpad(o_orderpriority, 12, '*') AS lp,
      |  rpad(o_orderstatus, 3, '.') AS rp,
      |  reverse(o_orderpriority) AS rev,
      |  ascii(o_orderstatus) AS asc_c,
      |  translate(o_orderpriority, '-AEIOU', '_aeiou') AS tr,
      |  repeat(o_orderstatus, 3) AS rep,
      |  strpos(o_orderpriority, 'URGENT') AS sp,
      |  list_aggregate(list_transform(string_split(lower(o_orderpriority), ' '),
      |    x -> upper(x[1]) || x[2:]), 'string_agg', ' ') AS ic
      |FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------- f10 edit-distance functions

  /** levenshtein (plain + thresholded, Spark returns −1 above the bound —
    * emulated in the oracle) over customer names: the classic record-
    * linkage primitive. */
  private def f10(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").filter(col("c_custkey") <= 500)
      .select(col("c_custkey"),
        levenshtein(col("c_name"), lit("Customer#000000001"))
          .cast("long").as("lev"),
        levenshtein(col("c_name"), lit("Customer#000000001"), 3)
          .cast("long").as("lev_t3"),
        levenshtein(col("c_mktsegment"), col("c_name"))
          .cast("long").as("lev_cols"))
      .orderBy(col("c_custkey"))

  private val f10Sql =
    """SELECT c_custkey,
      |  levenshtein(c_name, 'Customer#000000001') AS lev,
      |  CASE WHEN levenshtein(c_name, 'Customer#000000001') > 3 THEN -1
      |       ELSE levenshtein(c_name, 'Customer#000000001') END AS lev_t3,
      |  levenshtein(c_mktsegment, c_name) AS lev_cols
      |FROM customer WHERE c_custkey <= 500 ORDER BY c_custkey""".stripMargin

  // --------------------------------------------- f11 regex function family

  private def f11(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").filter(col("c_custkey") <= 500)
      .select(col("c_custkey"),
        regexp_extract(col("c_name"), "[0-9]+", 0).as("digits"),
        regexp_extract(col("c_name"), "([A-Za-z]+)#([0-9]+)", 2).as("idpart"),
        col("c_name").rlike("^Customer").as("is_cust"),
        size(expr("regexp_extract_all(c_name, '0', 0)")).cast("bigint").as("zeros"),
        regexp_replace(col("c_name"), "0+", "0").as("squeezed"))
      .orderBy(col("c_custkey"))

  private val f11Sql =
    """SELECT c_custkey,
      |  regexp_extract(c_name, '[0-9]+') AS digits,
      |  regexp_extract(c_name, '([A-Za-z]+)#([0-9]+)', 2) AS idpart,
      |  regexp_matches(c_name, '^Customer') AS is_cust,
      |  len(regexp_extract_all(c_name, '0')) AS zeros,
      |  regexp_replace(c_name, '0+', '0', 'g') AS squeezed
      |FROM customer WHERE c_custkey <= 500 ORDER BY c_custkey""".stripMargin

  // --------------------------------- f12 aggregate predicates + arg-max

  /** bool_and / count_if / max_by / min_by (DuckDB bool_and / count_if /
    * arg_max / arg_min). The per-group price extremes are unique in this
    * dataset, so the arg-max family is deterministic. */
  private def f12(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("bool_and(o_totalprice > 1000)").as("all_over_1k"),
        expr("count_if(o_orderstatus = 'F')").as("n_f"),
        expr("max_by(o_orderkey, o_totalprice)").as("priciest_key"),
        expr("min_by(o_orderkey, o_totalprice)").as("cheapest_key"))
      .orderBy(col("o_orderpriority"))

  private val f12Sql =
    """SELECT o_orderpriority,
      |  bool_and(o_totalprice > 1000) AS all_over_1k,
      |  CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_f,
      |  arg_max(o_orderkey, o_totalprice) AS priciest_key,
      |  arg_min(o_orderkey, o_totalprice) AS cheapest_key
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------ q29 recursive CTE

  /** WITH RECURSIVE (landed in Spark 4): walk the implicit orderkey
    * hierarchy key → key/10 → … → 0, reporting depth and path sum per
    * start key. Identical SQL shape runs in DuckDB (same division/cast
    * discipline: floor-div via floor(x/10.0), sums cast to BIGINT). */
  private def q29(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("q29_orders")
    s.sql("""WITH RECURSIVE walk(start_key, cur, depth) AS (
      |  SELECT o_orderkey, o_orderkey, 0 FROM q29_orders WHERE o_orderkey <= 1000
      |  UNION ALL
      |  SELECT start_key, CAST(floor(cur / 10.0) AS BIGINT), depth + 1
      |  FROM walk WHERE cur > 0)
      |SELECT start_key, MAX(depth) AS depth,
      |  CAST(SUM(cur) AS BIGINT) AS path_sum
      |FROM walk GROUP BY start_key ORDER BY start_key""".stripMargin)
  }

  private val q29Sql =
    """WITH RECURSIVE walk(start_key, cur, depth) AS (
      |  SELECT o_orderkey, o_orderkey, 0 FROM orders WHERE o_orderkey <= 1000
      |  UNION ALL
      |  SELECT start_key, CAST(floor(cur / 10.0) AS BIGINT), depth + 1
      |  FROM walk WHERE cur > 0)
      |SELECT start_key, MAX(depth) AS depth,
      |  CAST(SUM(cur) AS BIGINT) AS path_sum
      |FROM walk GROUP BY start_key ORDER BY start_key""".stripMargin

  // -------------------------------------- q24 correlated scalar subquery

  /** Correlated scalar subquery (Catalyst de-correlates to an aggregate +
    * left join — asserted in PlanSpec); exercised through the SQL-string
    * path the reference generates. */
  private def q24(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("q24_orders")
    t(s, dir, "lineitem").createOrReplaceTempView("q24_lineitem")
    s.sql("""SELECT o_orderkey, o_totalprice,
      (SELECT MAX(l.l_extendedprice) FROM q24_lineitem l
       WHERE l.l_orderkey = o.o_orderkey) AS max_item,
      (SELECT COUNT(*) FROM q24_lineitem l
       WHERE l.l_orderkey = o.o_orderkey) AS n_items
      FROM q24_orders o WHERE o_orderkey <= 2000 ORDER BY o_orderkey""")
  }

  private val q24Sql =
    """SELECT o_orderkey, o_totalprice,
      |  (SELECT MAX(l.l_extendedprice) FROM lineitem l
      |   WHERE l.l_orderkey = o.o_orderkey) AS max_item,
      |  (SELECT COUNT(*) FROM lineitem l
      |   WHERE l.l_orderkey = o.o_orderkey) AS n_items
      |FROM orders o WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin

  // ------------------------------------ q25 NOT IN three-valued semantics

  /** Pins NOT IN's 3VL footgun (ref test_core.py:370-378 relies on NOT IN):
    * a NULL anywhere in the subquery makes NOT IN yield no rows, while the
    * NULL-free subquery behaves like an anti join. Spark's null-aware anti
    * join must reproduce both. */
  private def q25(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("q25_orders")
    t(s, dir, "lineitem").createOrReplaceTempView("q25_lineitem")
    s.sql("""SELECT
      (SELECT COUNT(*) FROM q25_orders WHERE o_orderkey NOT IN
        (SELECT CASE WHEN l_orderkey = 1 THEN NULL ELSE l_orderkey END
         FROM q25_lineitem)) AS with_null,
      (SELECT COUNT(*) FROM q25_orders WHERE o_orderkey NOT IN
        (SELECT l_orderkey FROM q25_lineitem)) AS clean""")
  }

  private val q25Sql =
    """SELECT
      |  (SELECT COUNT(*) FROM orders WHERE o_orderkey NOT IN
      |    (SELECT CASE WHEN l_orderkey = 1 THEN NULL ELSE l_orderkey END
      |     FROM lineitem)) AS with_null,
      |  (SELECT COUNT(*) FROM orders WHERE o_orderkey NOT IN
      |    (SELECT l_orderkey FROM lineitem)) AS clean""".stripMargin

  // ----------------------------------------------- q26 gap sessionization

  /** Batch gap-sessionization (30-min) — the batch twin of the streaming
    * flatMapGroupsWithState sessionizer, oracle-checked against the same
    * cumulative-flag window formulation in DuckDB. */
  private def q26(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.sessionizeBatch(
        t(s, dir, "events").filter(col("user_id") <= 100)
          .select(col("user_id"), col("ts")), gapMinutes = 30)
      .select(col("user_id"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))

  private val q26Sql =
    """WITH e AS (SELECT user_id, ts FROM events WHERE user_id <= 100),
      |g AS (SELECT user_id, ts,
      |        CASE WHEN lag(ts) OVER w IS NULL
      |             OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
      |        THEN 1 ELSE 0 END AS new_s
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (SELECT user_id, ts, SUM(new_s) OVER
      |        (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM g)
      |SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start,
      |  CAST(MAX(ts) AS TIMESTAMP) AS session_end, COUNT(*) AS n_events
      |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  // ------------------------------------- q27 keep-latest-per-key dedupe

  /** dbt-utils' `deduplicate` pattern: one surviving row per key, picked by
    * row_number over an ordering — the most common staging-model idiom. */
  private def q27(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_orderstatus"))
      .orderBy(col("o_custkey"))
  }

  private val q27Sql =
    """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
      |       o_orderstatus
      |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |      FROM orders)
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  // ----------------------------------- q28 market share (TPC-H Q8 shape)

  /** Eight-relation star join (nation twice) + conditional-share aggregate —
    * the optimizer-stress query: join reorder, dimension broadcast, date
    * and size pushdown all have to land for this to be cheap. */
  private def q28(s: SparkSession, dir: String): DataFrame = {
    val n1 = t(s, dir, "nation").as("n1")
    val n2 = t(s, dir, "nation").as("n2")
    val vol = (col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1) - col("l_discount").cast("decimal(18,2)"))).as("volume")
    val base = t(s, dir, "customer")
      .join(n1, col("c_nationkey") === col("n1.n_nationkey"))
      .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
        col("n1.n_regionkey") === col("r_regionkey"))
      .join(t(s, dir, "orders").filter(
        col("o_orderdate").between("1995-01-01", "1996-12-31")),
        col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "lineitem"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(n2, col("s_nationkey") === col("n2.n_nationkey"))
      .join(t(s, dir, "part").filter(col("p_size") <= 25),
        col("l_partkey") === col("p_partkey"))
      .select(year(col("o_orderdate")).cast("bigint").as("o_year"),
        vol, col("n2.n_name").as("s_nation"))
    base.groupBy(col("o_year"))
      .agg(
        round((sum(when(col("s_nation") === "NATION_2", col("volume"))
            .otherwise(0)) / sum(col("volume"))).cast("double"), 6)
          .as("mkt_share"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("o_year"))
  }

  private val q28Sql =
    """SELECT o_year,
      |  round(CAST(SUM(CASE WHEN s_nation = 'NATION_2' THEN volume ELSE 0 END)
      |    / SUM(volume) AS DOUBLE), 6) AS mkt_share,
      |  COUNT(*) AS n_rows
      |FROM (
      |  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
      |    n2.n_name AS s_nation
      |  FROM customer
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN region ON n1.n_regionkey = r_regionkey
      |  JOIN orders ON o_custkey = c_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  JOIN part ON l_partkey = p_partkey
      |  WHERE r_name = 'ASIA'
      |    AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
      |    AND p_size <= 25)
      |GROUP BY o_year ORDER BY o_year""".stripMargin

  // ---------------------------------------- q31 salted skew-mitigated join

  /** Skew-mitigated fact-to-dim join ([[graft.exec.Skew.saltedJoin]]):
    * lineitem joins part on `l_partkey` through the counter-salted path —
    * the big side takes a round-robin salt, the dim explodes saltFactor×,
    * the shuffle key becomes (key, salt) so a hot key spreads across
    * `saltFactor` reducer tasks instead of funneling into one. The whole
    * point of salting is SEMANTIC TRANSPARENCY, which is exactly what the
    * oracle pins: the per-brand aggregate over the salted join must be
    * hash-identical to DuckDB's plain join. (SkewSpec pins the left /
    * left_semi / left_anti variants and the outer-type rejection; this
    * query puts the inner path behind the driver's gate.) Decimal-cast
    * before summing per the double-parity rule. */
  private def q31(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_partkey"),
      col("l_quantity").cast("decimal(18,2)").as("l_quantity"),
      (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1) - col("l_discount").cast("decimal(18,2)"))).as("volume"))
    val dim = t(s, dir, "part")
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    graft.exec.Skew.saltedJoin(li, dim, Seq("l_partkey"), "inner",
        saltFactor = 8)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")).cast("double"), 2).as("sum_qty"),
        round(sum(col("volume")).cast("double"), 2).as("revenue"))
      .orderBy(col("p_brand"))
  }

  private val q31Sql =
    """SELECT p_brand, COUNT(*) AS n_items,
      |  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
      |    AS sum_qty,
      |  round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------ q32 bucketed point-in-interval join

  /** Range (point-in-interval) join WITHOUT a nested-loop plan: events join
    * a table of 120 overlapping 36-hour analysis windows (6-hour stride) on
    * `ws <= ts < we`. A naive inequality join forces Spark into
    * BroadcastNestedLoopJoin — O(|events|·|windows|) comparisons and, once
    * the interval side outgrows the broadcast threshold, a cartesian. The
    * scale-correct plan bucketizes time: each interval EXPLODES into the
    * fixed-width buckets it overlaps (≤ ceil(width/bucket)+1 = 7 here), each
    * point maps to exactly ONE bucket, and the join becomes a hash equi-join
    * on bucket id with the exact containment predicate as a residual filter
    * — shuffle ∝ data, never ∝ data², and it survives interval tables of any
    * size (DepthPlanSpec pins the no-BNLJ/no-cartesian shape). A point
    * matching k windows is emitted k times by construction (its bucket holds
    * k expanded interval rows), so no dedup pass is needed. The oracle runs
    * the plain inequality join in DuckDB — the bucketed decomposition must
    * be value-invisible. */
  private def q32(s: SparkSession, dir: String): DataFrame = {
    val day = 86400000000L          // µs
    val bucket = 21600000000L       // 6 h
    val width = 129600000000L       // 36 h window
    val stride = 21600000000L       // 6 h stride → 6× overlap
    val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
      col("value"), unix_micros(col("ts").cast("timestamp")).as("us"))
    // day-floored corpus start anchors the window grid; the one-row agg
    // rides a broadcast (no driver collect)
    val d0 = ev.agg(expr(s"(min(us) div $day) * $day").as("d0"))
    val windows = s.range(120).select(col("id").as("window_id"))
      .crossJoin(broadcast(d0))
      .select(col("window_id"),
        (col("d0") + col("window_id") * lit(stride)).as("ws"))
      .withColumn("we", col("ws") + lit(width))
    val expanded = windows.withColumn("b",
      explode(sequence(expr(s"ws div $bucket"), expr(s"(we - 1) div $bucket"))))
    val pts = ev.withColumn("b", expr(s"us div $bucket"))
    expanded.join(pts, Seq("b"))
      .filter(col("us") >= col("ws") && col("us") < col("we"))
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("window_id"))
  }

  private val q32Sql =
    """WITH e AS (SELECT event_id, user_id, value, epoch_us(ts) AS us
      |           FROM events),
      |b AS (SELECT (min(us) // 86400000000) * 86400000000 AS d0 FROM e),
      |w AS (SELECT CAST(r.range AS BIGINT) AS window_id,
      |             d0 + CAST(r.range AS BIGINT) * 21600000000 AS ws,
      |             d0 + CAST(r.range AS BIGINT) * 21600000000
      |               + 129600000000 AS we
      |      FROM range(120) r, b)
      |SELECT window_id, COUNT(*) AS n_events,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
      |  round(SUM(value), 2) AS sum_value
      |FROM w JOIN e ON e.us >= w.ws AND e.us < w.we
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------- q33 funnel analysis

  /** Ordered event funnel (view → first click AFTER the first view → first
    * purchase AFTER that click), the conversion-analysis staple. Single
    * shuffle by user: three chained unbounded-frame window minima over the
    * SAME partitioning (each stage's timestamp conditions on the previous
    * stage's — Catalyst stacks the three Window operators on one exchange),
    * then a per-user collapse and a one-row global rollup with conversion
    * rates. No self-joins, no sorts beyond the window's, state per user is
    * three longs — the shape survives arbitrary user cardinality. */
  private def q33(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
    val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
      unix_micros(col("ts").cast("timestamp")).as("us"))
    val staged = ev
      .withColumn("v_us",
        min(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("c_us",
        min(when(col("event_type") === "click" && col("us") > col("v_us"),
          col("us"))).over(w))
      .withColumn("p_us",
        min(when(col("event_type") === "purchase" && col("us") > col("c_us"),
          col("us"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("v_us")).as("v_us"), max(col("c_us")).as("c_us"),
        max(col("p_us")).as("p_us"))
    staged.agg(count(col("v_us")).as("n_view"),
        count(col("c_us")).as("n_click"),
        count(col("p_us")).as("n_purchase"))
      .select(col("n_view"), col("n_click"), col("n_purchase"),
        round(col("n_click").cast("double") / col("n_view"), 6)
          .as("view_to_click"),
        round(col("n_purchase").cast("double") / col("n_click"), 6)
          .as("click_to_purchase"))
  }

  private val q33Sql =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |w1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
      |         OVER (PARTITION BY user_id) AS v_us FROM e),
      |w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND us > v_us
      |         THEN us END) OVER (PARTITION BY user_id) AS c_us FROM w1),
      |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND us > c_us
      |         THEN us END) OVER (PARTITION BY user_id) AS p_us FROM w2),
      |u AS (SELECT user_id, max(v_us) AS v_us, max(c_us) AS c_us,
      |        max(p_us) AS p_us FROM w3 GROUP BY 1)
      |SELECT COUNT(v_us) AS n_view, COUNT(c_us) AS n_click,
      |  COUNT(p_us) AS n_purchase,
      |  round(CAST(COUNT(c_us) AS DOUBLE) / COUNT(v_us), 6) AS view_to_click,
      |  round(CAST(COUNT(p_us) AS DOUBLE) / COUNT(c_us), 6)
      |    AS click_to_purchase
      |FROM u""".stripMargin

  // ----------------------------------------------- q34 z-order layout stats

  /** Z-order (Morton) clustering for multi-dimensional scan pruning
    * ([[graft.exec.Layout]]): quantize (l_partkey, l_suppkey) to 8 bits
    * each against broadcast min/max stats, bit-interleave into a 16-bit
    * z-value, and report per-z-run statistics — each `zbucket` is the key
    * range one file of a 16-file `zorderWrite` layout would hold, and its
    * min/max on BOTH keys is exactly the parquet footer range a scan
    * filtered on EITHER column would prune against (single-key sorting
    * gives perfect pruning on one column and none on the other; LayoutSpec
    * measures the difference on real files). The whole computation is flat
    * integer arithmetic (exact IntegralDivide quantization + unrolled
    * shift/mask interleave — no UDF, fully codegen'd, one exchange for the
    * groupBy), which is why DuckDB can reproduce it verbatim: the oracle
    * re-derives every z-value and bucket stat from the same closed form. */
  private def q34(s: SparkSession, dir: String): DataFrame = {
    import graft.exec.Layout
    val li = t(s, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
    Layout.withZValue(li, "l_partkey", "l_suppkey", bits = 8)
      .groupBy(expr("z div 4096").as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
        min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"))
      .orderBy(col("zbucket"))
  }

  private val q34Sql = {
    val terms = (0 until 8).map { i =>
      s"((qx >> $i) & 1) * ${1L << (2 * i + 1)} + ((qy >> $i) & 1) * ${1L << (2 * i)}"
    }.mkString("\n      |        + ")
    s"""WITH s AS (SELECT min(l_partkey) AS xlo, max(l_partkey) AS xhi,
       |             min(l_suppkey) AS ylo, max(l_suppkey) AS yhi
       |           FROM lineitem),
       |q AS (SELECT l_partkey, l_suppkey,
       |        least(greatest(((l_partkey - xlo) * 256) // (xhi - xlo + 1),
       |          0), 255) AS qx,
       |        least(greatest(((l_suppkey - ylo) * 256) // (yhi - ylo + 1),
       |          0), 255) AS qy
       |      FROM lineitem, s),
       |z AS (SELECT l_partkey, l_suppkey,
       |        $terms AS z
       |      FROM q)
       |SELECT z // 4096 AS zbucket, COUNT(*) AS n,
       |  min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
       |  min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ------------------------------------ q36 incremental z-order maintenance

  /** INCREMENTAL Z-order maintenance ([[graft.exec.Layout.zorderCompact]]):
    * the missing half of q34's story. A fresh `zorderWrite` gives every
    * file a tight footer min/max on BOTH keys; m06-style appends then land
    * UNCLUSTERED slabs whose footers span the full key range, so filtered
    * scans stop pruning and the table degrades monotonically with each
    * append. The maintenance op is `zorderWrite` of the directory onto
    * itself: it re-clusters (one shuffle — the clustered write's own hash
    * exchange) into private staging and swaps the result in with
    * [[graft.exec.Publish.dirSwap]]. Self-measuring: per-file key spans
    * (input_file_name + one grouped aggregate — the relational form of
    * LayoutSpec's footer audit) must show ≥ 0.9 of the global span on some
    * file BEFORE the compact (the degradation is real; boolean, because
    * slab FILE SPLITS are environment-shaped — but every slab file spans
    * ~the full range, so the gate is robust), and the worst per-file span
    * AFTER the compact is a VALUE column: zorderWrite's tile→file
    * assignment is deterministic (exactly one file per aligned Morton
    * tile), so DuckDB recomputes the same number from pure arithmetic —
    * quantize → interleave → tile → per-tile spans — and the hash check
    * verifies the MEASURED parquet layout equals the declared one. The
    * row SET rides through untouched — n_rows/sum_qty/sum_okey
    * value-match DuckDB over the same source rows. */
  private def q36(s: SparkSession, dir: String): DataFrame = {
    import graft.exec.Layout
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"))
    val root = graft.LlmShared.staging("zmaint", dir) + "/" +
      q36Invocation.incrementAndGet()
    val path = s"$root/t"
    Layout.zorderWrite(li.filter(col("l_orderkey") % 4 === 0),
      "l_partkey", "l_suppkey", nFiles = 8, path)
    (1 to 3).foreach { r =>
      li.filter(col("l_orderkey") % 4 === r)
        .write.mode("append").parquet(path)
    }
    // worst per-file span ratio across both layout keys — the pruning
    // quality a filtered scan actually sees (ratio 1.0 = footer useless)
    def worstSpan(df: DataFrame, as: String): DataFrame = {
      val per = df.select(input_file_name().as("f"), col("l_partkey"),
          col("l_suppkey"))
        .groupBy(col("f"))
        .agg(min(col("l_partkey")).as("fxlo"), max(col("l_partkey")).as("fxhi"),
          min(col("l_suppkey")).as("fylo"), max(col("l_suppkey")).as("fyhi"))
      val g = df.agg(min(col("l_partkey")).as("xlo"),
        max(col("l_partkey")).as("xhi"),
        min(col("l_suppkey")).as("ylo"), max(col("l_suppkey")).as("yhi"))
      per.crossJoin(broadcast(g))
        .select(greatest(
          (col("fxhi") - col("fxlo")).cast("double") /
            greatest(col("xhi") - col("xlo"), lit(1L)).cast("double"),
          (col("fyhi") - col("fylo")).cast("double") /
            greatest(col("yhi") - col("ylo"), lit(1L)).cast("double"))
          .as("r"))
        .agg(max(col("r")).as(as))
    }
    // EAGER (localCheckpoint): the degraded-state measurement must read
    // the pre-compact files — left lazy it would evaluate after the swap,
    // against files that no longer exist. One row.
    val before = worstSpan(s.read.parquet(path), "__before").localCheckpoint()
    Layout.zorderCompact(s, path, "l_partkey", "l_suppkey", nFiles = 8)
    val after = s.read.parquet(path)
    val afterSpan = worstSpan(after, "__after")
    after.agg(count(lit(1)).as("n_rows"),
        (sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
          .as("sum_qty"),
        sum(col("l_orderkey")).as("sum_okey"))
      .crossJoin(broadcast(before)).crossJoin(broadcast(afterSpan))
      .select(col("n_rows"), col("sum_qty"), col("sum_okey"),
        (col("__before") > 0.9).as("degraded_before"),
        col("__after").as("after_worst_span"),
        (col("__after") <= 0.65).as("restored_ok"))
  }

  private val q36Invocation = new java.util.concurrent.atomic.AtomicLong()

  /** The after-compact worst per-file span is recomputed from PURE
    * ARITHMETIC: the deterministic tile→file assignment means file K holds
    * exactly the rows whose (quantize → Morton-interleave → div blocks)
    * tile is K, so per-tile key spans computed relationally must equal the
    * per-file spans Spark measured from the actual parquet layout. */
  private val q36Sql = {
    val terms = (0 until 8).map { i =>
      s"((qx >> $i) & 1) * ${1L << (2 * i + 1)} + ((qy >> $i) & 1) * ${1L << (2 * i)}"
    }.mkString("\n      |        + ")
    val blocks = graft.exec.Layout.tileBlocks(nFiles = 8, bits = 8)
    s"""WITH s AS (SELECT min(l_partkey) AS xlo, max(l_partkey) AS xhi,
       |             min(l_suppkey) AS ylo, max(l_suppkey) AS yhi
       |           FROM lineitem),
       |q AS (SELECT l_partkey, l_suppkey,
       |        least(greatest(((l_partkey - xlo) * 256) // (xhi - xlo + 1),
       |          0), 255) AS qx,
       |        least(greatest(((l_suppkey - ylo) * 256) // (yhi - ylo + 1),
       |          0), 255) AS qy
       |      FROM lineitem, s),
       |z AS (SELECT l_partkey, l_suppkey,
       |        $terms AS z
       |      FROM q),
       |t AS (SELECT z // $blocks AS tile,
       |        min(l_partkey) AS fxlo, max(l_partkey) AS fxhi,
       |        min(l_suppkey) AS fylo, max(l_suppkey) AS fyhi
       |      FROM z GROUP BY 1),
       |w AS (SELECT max(greatest(
       |        CAST(fxhi - fxlo AS DOUBLE)
       |          / CAST(greatest(xhi - xlo, 1) AS DOUBLE),
       |        CAST(fyhi - fylo AS DOUBLE)
       |          / CAST(greatest(yhi - ylo, 1) AS DOUBLE))) AS ws
       |      FROM t, s)
       |SELECT COUNT(*) AS n_rows,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
       |  TRUE AS degraded_before,
       |  (SELECT ws FROM w) AS after_worst_span,
       |  TRUE AS restored_ok
       |FROM lineitem""".stripMargin
  }

  // --------------------------------- q37 INCREMENTAL (touched-tile) z-order

  /** Incremental z-order maintenance with cost ∝ APPENDED data
    * ([[graft.exec.Layout.zorderCompactIncremental]]) — the 100 TB form
    * of q36: instead of re-clustering the whole directory, appended slab
    * rows are routed to tiles with the ORIGINAL write's persisted
    * `_zstats` quantization and only the touched tiles are rewritten.
    * Appends are confined to the left half of the partkey domain, so the
    * right-half tiles must ride through BYTE-STABLE (same file, same
    * length, same mtime — `untouched_intact`, the claim that makes this
    * incremental). Everything else is VALUE-matched by DuckDB from pure
    * arithmetic: the final row set (count/qty/okey over "initial subset ∪
    * bounded appends"), `n_touched` (count of distinct tiles over the
    * append rows under the subset stats), and `after_worst_span` (per-
    * tile spans over the final rows — which must equal the per-FILE spans
    * Spark measures from the actual parquet layout, tile determinism
    * again). */
  private def q37(s: SparkSession, dir: String): DataFrame = {
    import graft.exec.Layout
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"))
    val root = graft.LlmShared.staging("zincr", dir) + "/" +
      q36Invocation.incrementAndGet()
    val path = s"$root/t"
    Layout.zorderWrite(li.filter(col("l_orderkey") % 4 === 0),
      "l_partkey", "l_suppkey", nFiles = 8, path)
    val st = Layout.readStats(s, path).get
    val mid = st.xlo + (st.xhi - st.xlo) / 2
    (1 to 3).foreach { r =>
      li.filter(col("l_orderkey") % 4 === r && col("l_partkey") <= mid)
        .write.mode("append").parquet(path)
    }
    def files(): Map[String, (Long, Long)] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      fs.listStatus(p).toSeq.filter(graft.exec.AtomicWriter.isDataFile)
        .map(f => f.getPath.getName -> (f.getLen, f.getModificationTime))
        .toMap
    }
    val before = files()
    val touched = Layout.zorderCompactIncremental(s, path,
      "l_partkey", "l_suppkey")
    val after = files()
    val untouchedIntact = after.keys.forall(_.startsWith("tile-")) &&
      before.keySet.filter(n => n.startsWith("tile-") &&
          !touched.exists(tid => n.startsWith(s"tile-$tid-")))
        .forall(n => after.get(n).contains(before(n)))
    // per-FILE spans measured from the actual layout (q36's worstSpan)
    val fin = s.read.parquet(path)
    val per = fin.select(input_file_name().as("f"), col("l_partkey"),
        col("l_suppkey"))
      .groupBy(col("f"))
      .agg(min(col("l_partkey")).as("fxlo"), max(col("l_partkey")).as("fxhi"),
        min(col("l_suppkey")).as("fylo"), max(col("l_suppkey")).as("fyhi"))
    val g = fin.agg(min(col("l_partkey")).as("xlo"),
      max(col("l_partkey")).as("xhi"),
      min(col("l_suppkey")).as("ylo"), max(col("l_suppkey")).as("yhi"))
    val span = per.crossJoin(broadcast(g))
      .agg(max(greatest(
          (col("fxhi") - col("fxlo")).cast("double") /
            greatest(col("xhi") - col("xlo"), lit(1L)).cast("double"),
          (col("fyhi") - col("fylo")).cast("double") /
            greatest(col("yhi") - col("ylo"), lit(1L)).cast("double")))
          .as("__span"),
        // the PRUNING claim as a VALUE: how many files a central-10%-band
        // predicate on each key must touch, judged from the same footer
        // ranges a reader prunes on — deterministic tile→file assignment
        // makes this a pure function of the data, so DuckDB recomputes it
        // from tile arithmetic
        sum(when(expr("fxhi >= xlo + ((xhi - xlo) * 45) div 100 AND " +
          "fxlo <= xlo + ((xhi - xlo) * 55) div 100"), 1L).otherwise(0L))
          .as("__nx"),
        sum(when(expr("fyhi >= ylo + ((yhi - ylo) * 45) div 100 AND " +
          "fylo <= ylo + ((yhi - ylo) * 55) div 100"), 1L).otherwise(0L))
          .as("__ny"))
    fin.agg(count(lit(1)).as("n_rows"),
        (sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
          .as("sum_qty"),
        sum(col("l_orderkey")).as("sum_okey"))
      .crossJoin(broadcast(span))
      .select(col("n_rows"), col("sum_qty"), col("sum_okey"),
        lit(touched.size.toLong).as("n_touched"),
        col("__span").as("after_worst_span"),
        col("__nx").as("n_files_x_band"),
        col("__ny").as("n_files_y_band"),
        lit(untouchedIntact).as("untouched_intact"))
  }

  private val q37Sql = {
    val terms = (0 until 8).map { i =>
      s"((qx >> $i) & 1) * ${1L << (2 * i + 1)} + ((qy >> $i) & 1) * ${1L << (2 * i)}"
    }.mkString("\n      |        + ")
    val blocks = graft.exec.Layout.tileBlocks(nFiles = 8, bits = 8)
    s"""WITH s AS (SELECT min(l_partkey) AS xlo, max(l_partkey) AS xhi,
       |             min(l_suppkey) AS ylo, max(l_suppkey) AS yhi
       |           FROM lineitem WHERE l_orderkey % 4 = 0),
       |r AS (SELECT l.l_orderkey, l.l_partkey, l.l_suppkey, l.l_quantity
       |      FROM lineitem l, s
       |      WHERE l.l_orderkey % 4 = 0
       |         OR l.l_partkey <= s.xlo + (s.xhi - s.xlo) // 2),
       |q AS (SELECT l_orderkey, l_partkey, l_suppkey,
       |        least(greatest(((l_partkey - xlo) * 256) // (xhi - xlo + 1),
       |          0), 255) AS qx,
       |        least(greatest(((l_suppkey - ylo) * 256) // (yhi - ylo + 1),
       |          0), 255) AS qy
       |      FROM r, s),
       |z AS (SELECT l_orderkey, l_partkey, l_suppkey,
       |        $terms AS z
       |      FROM q),
       |touched AS (SELECT COUNT(DISTINCT z // $blocks) AS n_touched
       |            FROM z WHERE l_orderkey % 4 <> 0),
       |t AS (SELECT z // $blocks AS tile,
       |        min(l_partkey) AS fxlo, max(l_partkey) AS fxhi,
       |        min(l_suppkey) AS fylo, max(l_suppkey) AS fyhi
       |      FROM z GROUP BY 1),
       |gs AS (SELECT min(l_partkey) AS gxlo, max(l_partkey) AS gxhi,
       |         min(l_suppkey) AS gylo, max(l_suppkey) AS gyhi FROM r),
       |w AS (SELECT max(greatest(
       |        CAST(fxhi - fxlo AS DOUBLE)
       |          / CAST(greatest(gxhi - gxlo, 1) AS DOUBLE),
       |        CAST(fyhi - fylo AS DOUBLE)
       |          / CAST(greatest(gyhi - gylo, 1) AS DOUBLE))) AS ws,
       |      CAST(sum(CASE WHEN fxhi >= gxlo + ((gxhi - gxlo) * 45) // 100
       |            AND fxlo <= gxlo + ((gxhi - gxlo) * 55) // 100
       |          THEN 1 ELSE 0 END) AS BIGINT) AS nx,
       |      CAST(sum(CASE WHEN fyhi >= gylo + ((gyhi - gylo) * 45) // 100
       |            AND fylo <= gylo + ((gyhi - gylo) * 55) // 100
       |          THEN 1 ELSE 0 END) AS BIGINT) AS ny
       |      FROM t, gs)
       |SELECT COUNT(*) AS n_rows,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey,
       |  (SELECT n_touched FROM touched) AS n_touched,
       |  (SELECT ws FROM w) AS after_worst_span,
       |  (SELECT nx FROM w) AS n_files_x_band,
       |  (SELECT ny FROM w) AS n_files_y_band,
       |  TRUE AS untouched_intact
       |FROM r""".stripMargin
  }

  // ------------------------------------------------- dt01 generic data tests

  /** The dbt `dbt test` surface (unique / not_null / accepted_values /
    * relationships, Tutorial.md:152-198) against the testdata, with two
    * deliberately failing cases; returns (test_name, failures, status). */
  private def dt01(s: SparkSession, dir: String): DataFrame = {
    import graft.exec.DataTests
    import graft.exec.DataTests._
    val orders = t(s, dir, "orders")
    val lineitem = t(s, dir, "lineitem")
    val customer = t(s, dir, "customer")
    val tests = Seq(
      Test("accepted_values_status_fo",
        acceptedValues(orders, "o_orderstatus", Seq("F", "O")), Warn),
      Test("not_null_c_name", notNull(customer, "c_name")),
      Test("relationships_li_orders1000",
        relationships(lineitem, "l_orderkey",
          orders.filter(col("o_orderkey") <= 1000), "o_orderkey")),
      Test("unique_lineitem_orderkey", unique(lineitem, Seq("l_orderkey"))),
      Test("unique_orders", unique(orders, Seq("o_orderkey"))))
    val results = DataTests.run(s, tests)
    import s.implicits._
    results.map(r => (r.name, r.failures, r.status match {
        case Pass => "pass"
        case Warned(_) => "warn"
        case Failed(_) => "error"
      })).toDF("test_name", "failures", "status")
      .orderBy(col("test_name"))
  }

  private val dt01Sql =
    """SELECT 'accepted_values_status_fo' AS test_name,
      |  (SELECT COUNT(*) FROM orders WHERE o_orderstatus IS NOT NULL
      |     AND o_orderstatus NOT IN ('F','O')) AS failures, 'warn' AS status
      |UNION ALL SELECT 'not_null_c_name',
      |  (SELECT COUNT(*) FROM customer WHERE c_name IS NULL), 'pass'
      |UNION ALL SELECT 'relationships_li_orders1000',
      |  (SELECT COUNT(*) FROM lineitem l WHERE l_orderkey IS NOT NULL
      |     AND NOT EXISTS (SELECT 1 FROM orders o
      |       WHERE o.o_orderkey = l.l_orderkey AND o.o_orderkey <= 1000)),
      |  'error'
      |UNION ALL SELECT 'unique_lineitem_orderkey',
      |  (SELECT COUNT(*) FROM (SELECT l_orderkey FROM lineitem
      |     WHERE l_orderkey IS NOT NULL GROUP BY 1 HAVING COUNT(*) > 1)),
      |  'error'
      |UNION ALL SELECT 'unique_orders',
      |  (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
      |     WHERE o_orderkey IS NOT NULL GROUP BY 1 HAVING COUNT(*) > 1)),
      |  'pass'
      |ORDER BY test_name""".stripMargin

  // ---------------------------------------------------- dt02 table profile

  /** dbt-profiler-style column profile of `orders` (row/null/distinct
    * counts + typed min/max rendered as strings): the catalog-audit pass a
    * warehouse runs after every load. One fused action; the date column is
    * profiled as DATE so both engines render it identically. */
  private def dt02(s: SparkSession, dir: String): DataFrame =
    graft.exec.DataTests.profile(
        t(s, dir, "orders")
          .withColumn("o_orderdate", col("o_orderdate").cast("date")),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
          "o_orderdate"))
      .orderBy(col("column_name"))

  private val dt02Sql = {
    def one(c: String, cast: String) =
      s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(MIN($cast) AS VARCHAR) AS min_value,
         |  CAST(MAX($cast) AS VARCHAR) AS max_value FROM orders""".stripMargin
    Seq(one("o_orderkey", "o_orderkey"), one("o_custkey", "o_custkey"),
      one("o_orderstatus", "o_orderstatus"),
      one("o_orderpriority", "o_orderpriority"),
      one("o_orderdate", "CAST(o_orderdate AS DATE)"))
      .mkString("", "\nUNION ALL ", "\nORDER BY column_name")
  }

  // ------------------------------------- dt03 profile with HLL distinct

  /** dt02's 100 TB swap-in, EXECUTED and gated (not prose): the same
    * column profile with `n_distinct` from
    * [[graft.exec.DataTests.profileApprox]] (HyperLogLog++, rsd 1%),
    * joined per column against the exact twin and gated at ±4% relative
    * error (4σ of the sketch's standard error — deterministic for a given
    * dataset, so the gate is stable, and the q17/q30 pattern makes the
    * bound hash-checked rather than asserted in a comment). Exact values
    * ride along so the oracle pins the whole row. */
  private def dt03(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "orders")
      .withColumn("o_orderdate", col("o_orderdate").cast("date"))
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority", "o_orderdate")
    val exact = graft.exec.DataTests.profile(src, cols)
    val approx = graft.exec.DataTests.profileApprox(src, cols, rsd = 0.01)
      .select(col("column_name"), col("n_distinct").as("__hll"))
    exact.join(approx, "column_name")
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_value"), col("max_value"),
        (abs(col("__hll").cast("double") / col("n_distinct") - 1) <= 0.04)
          .as("distinct_ok"))
      .orderBy(col("column_name"))
  }

  private val dt03Sql = {
    def one(c: String, cast: String) =
      s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(MIN($cast) AS VARCHAR) AS min_value,
         |  CAST(MAX($cast) AS VARCHAR) AS max_value,
         |  TRUE AS distinct_ok FROM orders""".stripMargin
    Seq(one("o_orderkey", "o_orderkey"), one("o_custkey", "o_custkey"),
      one("o_orderstatus", "o_orderstatus"),
      one("o_orderpriority", "o_orderpriority"),
      one("o_orderdate", "CAST(o_orderdate AS DATE)"))
      .mkString("", "\nUNION ALL ", "\nORDER BY column_name")
  }

  // -------------------------------- dt04 distribution drift (PSI) test

  /** Distribution-drift test ([[graft.exec.DataTests.driftPsi]]):
    * Population Stability Index of `l_extendedprice` between the
    * pre-1998 and 1998+ shipment snapshots — the model-monitoring check
    * a pipeline runs when a feature table is re-materialized. 10
    * equal-width bins over the BASELINE range (current mass outside it
    * clamps to the edge bins), `eps`-smoothed fractions so empty bins
    * stay finite, per-bin terms + the repeated total. Everything past
    * the two grouped counts is bins-sized; the min/max scalars ride a
    * broadcast, never a collect. Value-matched: DuckDB reproduces bin
    * boundaries (identical IEEE division/floor), fractions, and ln
    * terms to the 6-decimal round. */
  private def dt04(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_extendedprice"), col("l_shipdate"))
    val split = lit("1998-01-01").cast("timestamp")
    graft.exec.DataTests.driftPsi(
        li.filter(col("l_shipdate") < split),
        li.filter(col("l_shipdate") >= split),
        "l_extendedprice", bins = 10)
      .orderBy(col("bin"))
  }

  private val dt04Sql =
    """WITH b AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
      |  WHERE l_shipdate < TIMESTAMP '1998-01-01'),
      |c AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1998-01-01'),
      |st AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM b),
      |bb AS (SELECT LEAST(9, GREATEST(0,
      |    CAST(floor((x - lo) / ((hi - lo) / 10)) AS INT))) AS bin,
      |    COUNT(*) AS n_base FROM b, st GROUP BY 1),
      |cb AS (SELECT LEAST(9, GREATEST(0,
      |    CAST(floor((x - lo) / ((hi - lo) / 10)) AS INT))) AS bin,
      |    COUNT(*) AS n_cur FROM c, st GROUP BY 1),
      |spine AS (SELECT UNNEST(range(0, 10)) AS bin),
      |j AS (SELECT CAST(spine.bin AS INT) AS bin,
      |    COALESCE(n_base, 0) AS n_base, COALESCE(n_cur, 0) AS n_cur
      |  FROM spine LEFT JOIN bb ON bb.bin = spine.bin
      |  LEFT JOIN cb ON cb.bin = spine.bin),
      |tt AS (SELECT SUM(n_base) AS tb, SUM(n_cur) AS tc FROM j),
      |terms AS (SELECT bin, n_base, n_cur,
      |    GREATEST(CAST(n_base AS DOUBLE) / tb, 1e-6) AS p,
      |    GREATEST(CAST(n_cur AS DOUBLE) / tc, 1e-6) AS q
      |  FROM j, tt),
      |w AS (SELECT bin, n_base, n_cur, round(p, 6) AS p_base,
      |    round(q, 6) AS p_cur,
      |    round((q - p) * ln(q / p), 6) AS psi_term FROM terms)
      |SELECT bin, n_base, n_cur, p_base, p_cur, psi_term,
      |  (SELECT round(SUM(psi_term), 6) FROM w) AS psi_total
      |FROM w ORDER BY bin""".stripMargin

  // ----------------------------- dt05 distribution drift (KS) test

  /** Two-sample Kolmogorov–Smirnov drift test
    * ([[graft.exec.DataTests.driftKs]]) of `o_totalprice` between the
    * pre-1997 and 1997+ order snapshots — dt04's PSI answers "how much
    * total divergence", this answers "how large is the worst single
    * distribution shift" (a localized mode move can be PSI-small but
    * KS-large). Binned ECDF over 64 equal-width baseline bins — a lower
    * bound on the exact KS tight to one bin width, taken so no global
    * sort of the raw column ever happens; the cumulative window runs
    * over the 64-row binned frame, never the corpus. Value-matched:
    * DuckDB reproduces bins, cumulative fractions, and the max to the
    * 6-decimal round. */
  private def dt05(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_totalprice"), col("o_orderdate"))
    val split = lit("1997-01-01").cast("timestamp")
    graft.exec.DataTests.driftKs(
        o.filter(col("o_orderdate") < split),
        o.filter(col("o_orderdate") >= split),
        "o_totalprice", bins = 64)
      .orderBy(col("bin"))
  }

  private val dt05Sql =
    """WITH b AS (SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
      |  WHERE o_orderdate < TIMESTAMP '1997-01-01'),
      |c AS (SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'),
      |st AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM b),
      |bb AS (SELECT LEAST(63, GREATEST(0,
      |    CAST(floor((x - lo) / ((hi - lo) / 64)) AS INT))) AS bin,
      |    COUNT(*) AS n_base FROM b, st GROUP BY 1),
      |cb AS (SELECT LEAST(63, GREATEST(0,
      |    CAST(floor((x - lo) / ((hi - lo) / 64)) AS INT))) AS bin,
      |    COUNT(*) AS n_cur FROM c, st GROUP BY 1),
      |spine AS (SELECT UNNEST(range(0, 64)) AS bin),
      |j AS (SELECT CAST(spine.bin AS INT) AS bin,
      |    COALESCE(n_base, 0) AS n_base, COALESCE(n_cur, 0) AS n_cur
      |  FROM spine LEFT JOIN bb ON bb.bin = spine.bin
      |  LEFT JOIN cb ON cb.bin = spine.bin),
      |tt AS (SELECT SUM(n_base) AS tb, SUM(n_cur) AS tc FROM j),
      |cdf AS (SELECT bin, n_base, n_cur,
      |    CAST(SUM(n_base) OVER (ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |      / CAST(tb AS DOUBLE) AS fb,
      |    CAST(SUM(n_cur) OVER (ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |      / CAST(tc AS DOUBLE) AS fc
      |  FROM j, tt),
      |terms AS (SELECT bin, n_base, n_cur, round(fb, 6) AS cdf_base,
      |    round(fc, 6) AS cdf_cur, round(abs(fb - fc), 6) AS ks_term
      |  FROM cdf)
      |SELECT bin, n_base, n_cur, cdf_base, cdf_cur, ks_term,
      |  (SELECT MAX(ks_term) FROM terms) AS ks_stat
      |FROM terms ORDER BY bin""".stripMargin

  // ------------------------------------ q35 KMV sketch set intersection

  /** Set-INTERSECTION cardinality from two bottom-k (KMV theta) sketches
    * ([[graft.functions.KmvAgg]]) — the sketch question HLL cannot answer
    * (inclusion–exclusion error explodes for small overlaps) and Bloom
    * does not pose (membership, not cardinality): size the overlap of two
    * key sets from two k-sized arrays instead of an exact distinct join.
    * Two bounded map-side-combinable aggregates are the only corpus-scale
    * work; the union/Jaccard estimator (merge sketches, re-trim to k, θ =
    * k-th fraction, ρ = survivors present in both) is array math on one
    * row. q17-HLL-style gating: the exact twin runs in-query and the
    * estimates must land inside 10% (union) / 15% (intersection) — with
    * k=1024 the expected errors are ~3% and ~5%. */
  private def q35(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KmvAgg
    val k = 1024
    val o = t(s, dir, "orders").select(col("o_orderkey"))
    def side(pred: Column, nAs: String, skAs: String): DataFrame =
      o.filter(pred).agg(
        KmvAgg(xxhash64(col("o_orderkey")), k).as(skAs),
        count(lit(1)).as(nAs))
    val a = side(col("o_orderkey") % 3 <= 1, "n_a", "ska")
    val b = side(col("o_orderkey") % 3 >= 1, "n_b", "skb")
    val exact = o.agg(
      sum(when(col("o_orderkey") % 3 === 1, 1L).otherwise(0L))
        .cast("bigint").as("exact_inter"))
    a.crossJoin(b).crossJoin(exact)
      .withColumn("mk",
        slice(array_sort(array_union(col("ska"), col("skb"))), 1, k))
      .withColumn("ku", size(col("mk")))
      .withColumn("theta", KmvAgg.frac(element_at(col("mk"), col("ku"))))
      .withColumn("n_union_est",
        when(col("ku") < k, col("ku").cast("double"))
          .otherwise(lit((k - 1).toDouble) / col("theta")))
      .withColumn("rho",
        size(array_intersect(array_intersect(col("mk"), col("ska")),
          col("skb"))).cast("double") / col("ku"))
      .withColumn("inter_est", col("rho") * col("n_union_est"))
      .select(col("n_a"), col("n_b"), col("exact_inter"),
        (abs(col("n_union_est")
          / (col("n_a") + col("n_b") - col("exact_inter")).cast("double")
          - 1) <= 0.10).as("union_ok"),
        (abs(col("inter_est") / col("exact_inter").cast("double") - 1)
          <= 0.15).as("inter_ok"))
  }

  private val q35Sql =
    """SELECT
      |  CAST(SUM(CASE WHEN o_orderkey % 3 <= 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_a,
      |  CAST(SUM(CASE WHEN o_orderkey % 3 >= 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_b,
      |  CAST(SUM(CASE WHEN o_orderkey % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS exact_inter,
      |  TRUE AS union_ok, TRUE AS inter_ok
      |FROM orders""".stripMargin

  // ---------------------- dt06 categorical drift (chi-squared) test

  /** Chi-squared homogeneity drift on the CATEGORICAL `event_type` between
    * the first and second half of the event stream
    * ([[graft.exec.DataTests.driftChi2]]) — completes the drift family:
    * dt04 PSI and dt05 KS bin NUMERIC columns and have nothing to say
    * about an unordered category mix shift (a new crawler source flipping
    * the click/error ratio). Oracle re-derives every expected count,
    * per-category term, dof and the statistic relationally. */
  private def dt06(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
      .select(col("event_type"), col("ts").cast("timestamp").as("ts"))
    val split = lit("2024-01-16").cast("timestamp")
    graft.exec.DataTests.driftChi2(
        e.filter(col("ts") < split), e.filter(col("ts") >= split),
        "event_type")
      .orderBy(col("category"))
  }

  private val dt06Sql =
    """WITH b AS (SELECT COALESCE(event_type, '__null') AS category
      |  FROM events WHERE ts < TIMESTAMP '2024-01-16'),
      |c AS (SELECT COALESCE(event_type, '__null') AS category
      |  FROM events WHERE ts >= TIMESTAMP '2024-01-16'),
      |bb AS (SELECT category, COUNT(*) AS n_base FROM b GROUP BY 1),
      |cb AS (SELECT category, COUNT(*) AS n_cur FROM c GROUP BY 1),
      |j AS (SELECT COALESCE(bb.category, cb.category) AS category,
      |    COALESCE(n_base, 0) AS n_base, COALESCE(n_cur, 0) AS n_cur
      |  FROM bb FULL JOIN cb ON bb.category = cb.category),
      |tt AS (SELECT SUM(n_base) AS tb, SUM(n_cur) AS tc,
      |    COUNT(*) AS k FROM j),
      |terms AS (SELECT category, n_base, n_cur,
      |    round((n_base + n_cur) * CAST(tb AS DOUBLE) / (tb + tc), 6)
      |      AS exp_base,
      |    round((n_base + n_cur) * CAST(tc AS DOUBLE) / (tb + tc), 6)
      |      AS exp_cur,
      |    round(pow(n_base - (n_base + n_cur) * CAST(tb AS DOUBLE)
      |        / (tb + tc), 2)
      |        / ((n_base + n_cur) * CAST(tb AS DOUBLE) / (tb + tc))
      |      + pow(n_cur - (n_base + n_cur) * CAST(tc AS DOUBLE)
      |        / (tb + tc), 2)
      |        / ((n_base + n_cur) * CAST(tc AS DOUBLE) / (tb + tc)), 6)
      |      AS chi2_term,
      |    k - 1 AS dof
      |  FROM j, tt)
      |SELECT category, n_base, n_cur, exp_base, exp_cur, chi2_term, dof,
      |  (SELECT round(SUM(chi2_term), 6) FROM terms) AS chi2_stat
      |FROM terms ORDER BY category""".stripMargin

  // ------------- dt07 quantizer staleness (index cell-occupancy drift)

  /** The RETRAIN SIGNAL for the train-once ANN index
    * ([[graft.llm.IndexStore]]): chi-squared homogeneity
    * ([[graft.exec.DataTests.driftChi2]]) between the stored index's
    * cell assignments and a candidate batch's — centroid_id is the
    * category, because the drift that actually hurts an IVF index is new
    * data crowding into cells the quantizer placed for an older
    * distribution (recall decays exactly there; the store's immutable-
    * quantizer contract needs this monitor, not a silent decay).
    *
    * The threshold is CALIBRATED, not absolute: real corpora carry
    * duplicate clusters (the amplified rehearsal corpora: ~10–100 near-
    * copies per vector), and clustered draws inflate a two-sample chi²
    * by roughly the copy factor — an absolute dof-scale cutoff flags
    * clean data on any duplicated corpus. The monitor therefore scores
    * the candidate batch AGAINST a held-out same-distribution split (the
    * odd-id half, with the even half indexed): no drift while the batch
    * statistic stays within 20× of the calibration split's; the planted
    * +0.5-per-dimension shift (a different embedding region → different
    * cells, chi² ∝ n) must exceed it. DriftDialProbe (retired,
    * `git show 82306df:src/main/scala/graft/examples/DriftDialProbe.scala`) measured the dial:
    * calibration chi² 5.6 / 4.9 / 4.8 / 9.3 / 1469.6 at sf0.001→sf10
    * (the sf10 jump IS the ~100-copy inflation), shift/calibration
    * ratios 51 / 78 / 273 / 1414 / 99.7 — factor 20 keeps ≥ 2.5× margin
    * on both sides at every scale. Corpus-scale work is three map-side
    * grouped counts over narrow scans; the statistic side is
    * nlist-sized. */
  private def dt07(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.{IndexStore, Similarity}
    val emb = t(s, dir, "embeddings")
    val root = graft.LlmShared.staging("ixdrift", dir) + "/" +
      dt07Invocation.incrementAndGet()
    val even = emb.filter(col("vec_id") % 2 === 0)
    val odd = emb.filter(col("vec_id") % 2 === 1)
    val shifted = odd.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
    IndexStore.train(s, root, even, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, seed = 42L)
    IndexStore.appendCodes(s, root, 0L, even)
    val rq = IndexStore.loadQuantizer(s, root)
    val storeCells = IndexStore.readCodes(s, root).select(col("centroid_id"))
    def stat(batch: DataFrame, as: String): DataFrame =
      graft.exec.DataTests.driftChi2(storeCells,
          Similarity.encodeResidual(batch, rq).select(col("centroid_id")),
          "centroid_id")
        .agg(max(col("chi2_stat")).as(as))
    val same = stat(odd, "__chi2_same")
    val shift = stat(shifted, "__chi2_shift")
    // n_store / n_batch are VALUE-matched by the oracle (the even/odd
    // split counts), anchoring the row beyond the gate booleans; the chi²
    // values themselves cannot be oracle-computed — the categories are
    // fitted cell ids, a fit product DuckDB cannot reproduce — so the
    // in-query calibration split stays the load-bearing check for them
    val cells = IndexStore.cellOccupancy(s, root)
      .agg(count(lit(1)).as("n_cells"), sum(col("n")).as("n_store"))
    val nBatch = odd.agg(count(lit(1)).as("n_batch"))
    cells.crossJoin(broadcast(nBatch))
      .crossJoin(broadcast(same)).crossJoin(broadcast(shift))
      .select(col("n_cells"), col("n_store"), col("n_batch"),
        // calibration split stays well under the planted shift — the
        // separation that makes the calibrated threshold usable
        (col("__chi2_same") * 20.0 < col("__chi2_shift")).as("no_drift_ok"),
        // shifted batch: chi2 ∝ n, past the calibrated cutoff at any SF
        (col("__chi2_shift") > 100.0
          && col("__chi2_shift") > greatest(col("__chi2_same"), lit(7.0)) * 20)
          .as("drift_detected"))
  }

  private val dt07Invocation = new java.util.concurrent.atomic.AtomicLong()

  private val dt07Sql =
    """SELECT CAST(8 AS BIGINT) AS n_cells,
      |  (SELECT COUNT(*) FROM embeddings WHERE vec_id % 2 = 0) AS n_store,
      |  (SELECT COUNT(*) FROM embeddings WHERE vec_id % 2 = 1) AS n_batch,
      |  TRUE AS no_drift_ok, TRUE AS drift_detected""".stripMargin

  // --------------------------- dt08 total-variation drift (moved mass)

  /** Total-variation distance over a categorical column
    * ([[graft.exec.DataTests.driftTv]]) — the scale-free companion dt06's
    * chi² needs on duplicated corpora (chi² inflates ∝ copy factor; TV
    * measures the moved mass itself, and is what
    * [[graft.llm.IndexStore.ingestWithDriftGuard]]'s warm-up path fires
    * on). The planted drift: the current snapshot drops 3/4 of 'en'
    * documents, so 'en' share falls and every other share rises — every
    * count, share, per-category TV term, and the statistic itself are
    * pure relational arithmetic, VALUE-matched by DuckDB end to end
    * (unlike dt07's fitted-cell categories, nothing here is a fit
    * product). */
  private def dt08(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    val base = docs.select(col("lang"))
    val cur = docs.filter(!(col("lang") <=> lit("en"))
        || col("doc_id") % 4 === 0)
      .select(col("lang"))
    graft.exec.DataTests.driftTv(base, cur, "lang")
      .orderBy(col("category"))
  }

  private val dt08Sql =
    """WITH b AS (SELECT COALESCE(lang, '__null') AS category
      |  FROM documents),
      |c AS (SELECT COALESCE(lang, '__null') AS category FROM documents
      |  WHERE lang IS DISTINCT FROM 'en' OR doc_id % 4 = 0),
      |bb AS (SELECT category, COUNT(*) AS n_base FROM b GROUP BY 1),
      |cb AS (SELECT category, COUNT(*) AS n_cur FROM c GROUP BY 1),
      |j AS (SELECT COALESCE(bb.category, cb.category) AS category,
      |    COALESCE(n_base, 0) AS n_base, COALESCE(n_cur, 0) AS n_cur
      |  FROM bb FULL JOIN cb ON bb.category = cb.category),
      |tt AS (SELECT SUM(n_base) AS tb, SUM(n_cur) AS tc FROM j),
      |terms AS (SELECT category, n_base, n_cur,
      |    round(CAST(n_base AS DOUBLE) / tb, 6) AS share_base,
      |    round(CAST(n_cur AS DOUBLE) / tc, 6) AS share_cur,
      |    round(abs(CAST(n_base AS DOUBLE) / tb
      |      - CAST(n_cur AS DOUBLE) / tc) / 2, 6) AS tv_term
      |  FROM j, tt)
      |SELECT category, n_base, n_cur, share_base, share_cur, tv_term,
      |  (SELECT round(SUM(tv_term), 6) FROM terms) AS tv_stat
      |FROM terms ORDER BY category""".stripMargin

  // ---------------------------------------------------------------- export

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q19_grouping_sets" -> (q19 _),
    "q20_pivot" -> (q20 _),
    "q21_posexplode" -> (q21 _),
    "q22_percentiles" -> (q22 _),
    "q23_asof_join" -> (q23 _),
    "f09_strings_ext" -> (f09 _),
    "f10_edit_distance" -> (f10 _),
    "f11_regex" -> (f11 _),
    "f12_agg_argmax" -> (f12 _),
    "q24_correlated_subquery" -> (q24 _),
    "q25_not_in_nulls" -> (q25 _),
    "q26_sessionize" -> (q26 _),
    "q27_dedupe_latest" -> (q27 _),
    "q28_market_share" -> (q28 _),
    "q29_recursive_cte" -> (q29 _),
    "q30_approx_quantiles" -> (q30 _),
    "q31_salted_skew_join" -> (q31 _),
    "q32_bucketed_range_join" -> (q32 _),
    "q33_event_funnel" -> (q33 _),
    "q34_zorder_layout" -> (q34 _),
    "q35_kmv_intersection" -> (q35 _),
    "q36_zorder_maintenance" -> (q36 _),
    "q37_zorder_incremental" -> (q37 _),
    "dt01_data_tests" -> (dt01 _),
    "dt02_profile" -> (dt02 _),
    "dt03_profile_hll" -> (dt03 _),
    "dt04_drift_psi" -> (dt04 _),
    "dt05_drift_ks" -> (dt05 _),
    "dt06_drift_chi2" -> (dt06 _),
    "dt07_quantizer_drift" -> (dt07 _),
    "dt08_drift_tv" -> (dt08 _))

  def oracleSql: Map[String, String] = Map(
    "q19_grouping_sets" -> q19Sql,
    "q20_pivot" -> q20Sql,
    "q21_posexplode" -> q21Sql,
    "q22_percentiles" -> q22Sql,
    "q23_asof_join" -> q23Sql,
    "f09_strings_ext" -> f09Sql,
    "f10_edit_distance" -> f10Sql,
    "f11_regex" -> f11Sql,
    "f12_agg_argmax" -> f12Sql,
    "q24_correlated_subquery" -> q24Sql,
    "q25_not_in_nulls" -> q25Sql,
    "q26_sessionize" -> q26Sql,
    "q27_dedupe_latest" -> q27Sql,
    "q28_market_share" -> q28Sql,
    "q29_recursive_cte" -> q29Sql,
    "q30_approx_quantiles" -> q30Sql,
    "q31_salted_skew_join" -> q31Sql,
    "q32_bucketed_range_join" -> q32Sql,
    "q33_event_funnel" -> q33Sql,
    "q34_zorder_layout" -> q34Sql,
    "q35_kmv_intersection" -> q35Sql,
    "q36_zorder_maintenance" -> q36Sql,
    "q37_zorder_incremental" -> q37Sql,
    "dt01_data_tests" -> dt01Sql,
    "dt02_profile" -> dt02Sql,
    "dt03_profile_hll" -> dt03Sql,
    "dt04_drift_psi" -> dt04Sql,
    "dt05_drift_ks" -> dt05Sql,
    "dt06_drift_chi2" -> dt06Sql,
    "dt07_quantizer_drift" -> dt07Sql,
    "dt08_drift_tv" -> dt08Sql)
}
