package graft

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import graft.catalog.TableRef
import graft.exec.DataTests
import graft.mat.Materializer
import graft.pipeline.ModelGraph

/** Spark keeps compiled whole-stage-codegen classes in one JVM-wide LRU
  * whose size `Verify.session` sets. A DAG build plus its `dbt test` pass
  * needs more distinct classes than Spark's default of 100, so a cache of
  * that size evicts the classes a repeat of the same work is about to need
  * and compiles all of them again. */
class CodegenReuseSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private val db = "codegen_reuse"

  /** A never-matching key filter with a per-run constant: every staging
    * view, and so most stage classes, carries it inlined in its generated
    * code, so classes that earlier suites in this JVM compiled cannot
    * pre-warm the first pass. */
  private val salt = -1L - (System.nanoTime() & 0xffffffffL)

  private def stage(): Unit = {
    Seq("orders", "lineitem", "customer", "supplier", "part", "nation", "region")
      .foreach(t => Tables.t(spark, dir, t).createOrReplaceTempView(s"cr_raw_$t"))
    def view(name: String, sql: String): Unit =
      spark.sql(sql).createOrReplaceTempView(name)
    view("cr_orders",
      s"""select o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
          from cr_raw_orders where o_orderkey <> $salt""")
    view("cr_lineitem",
      s"""select l_orderkey, l_partkey, l_suppkey, l_quantity, l_returnflag,
                 l_extendedprice * (1 - l_discount) as net_price
          from cr_raw_lineitem where l_quantity > 0 and l_orderkey <> $salt""")
    view("cr_customer",
      s"""select c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
          from cr_raw_customer where c_custkey <> $salt""")
    view("cr_supplier",
      s"select s_suppkey, s_name, s_nationkey from cr_raw_supplier where s_suppkey <> $salt")
    view("cr_part",
      s"select p_partkey, p_brand, p_size from cr_raw_part where p_partkey <> $salt")
    view("cr_nation",
      s"""select n.n_nationkey, n.n_name, r.r_name
          from cr_raw_nation n join cr_raw_region r on n.n_regionkey = r.r_regionkey
          where n.n_nationkey <> $salt""")
  }

  /** name → (deps, select); `{name}` renders a built model's table. */
  private val models: Seq[(String, Seq[String], String)] = Seq(
    ("order_lines", Nil,
      """select o.o_orderkey, o.o_custkey, o.o_orderdate, o.o_orderstatus,
                l.l_partkey, l.l_suppkey, l.l_quantity, l.net_price, l.l_returnflag
         from cr_orders o join cr_lineitem l on o.o_orderkey = l.l_orderkey"""),
    ("customers", Nil,
      """select c.c_custkey, c.c_name, c.c_acctbal, c.c_mktsegment, n.n_name, n.r_name
         from cr_customer c join cr_nation n on c.c_nationkey = n.n_nationkey"""),
    ("customer_ltv", Seq("order_lines", "customers"),
      """with p as (
           select o_custkey, sum(net_price) as revenue,
                  count(distinct o_orderkey) as n_orders, max(o_orderdate) as last_order
           from {order_lines} group by o_custkey)
         select c.c_custkey, c.n_name, p.revenue, p.n_orders, p.last_order,
                rank() over (partition by c.n_name order by p.revenue desc, c.c_custkey) as nation_rank
         from p join {customers} c on p.o_custkey = c.c_custkey"""),
    ("revenue_by_month", Seq("order_lines", "customers"),
      """select c.n_name, year(l.o_orderdate) * 100 + month(l.o_orderdate) as ym,
                sum(l.net_price) as revenue, count(distinct l.o_orderkey) as n_orders
         from {order_lines} l join {customers} c on l.o_custkey = c.c_custkey
         group by c.n_name, year(l.o_orderdate) * 100 + month(l.o_orderdate)"""),
    ("returns", Seq("order_lines", "customers"),
      """select c.r_name, l.l_returnflag, count(*) as n_lines, sum(l.l_quantity) as qty,
                avg(l.net_price) as avg_price
         from {order_lines} l join {customers} c on l.o_custkey = c.c_custkey
         group by c.r_name, l.l_returnflag"""),
    ("supplier_rank", Seq("order_lines"),
      """with rev as (
           select l_suppkey, sum(net_price) as revenue, count(*) as n_lines
           from {order_lines} group by l_suppkey)
         select s.s_suppkey, s.s_name, n.n_name, r.revenue, r.n_lines,
                row_number() over (partition by n.n_name order by r.revenue desc, s.s_suppkey) as nation_rank,
                r.revenue / sum(r.revenue) over (partition by n.n_name) as nation_share
         from rev r join cr_supplier s on r.l_suppkey = s.s_suppkey
         join cr_nation n on s.s_nationkey = n.n_nationkey"""),
    ("part_percentiles", Seq("order_lines"),
      """select p.p_brand, count(*) as n_lines,
                percentile_cont(0.5) within group (order by l.net_price) as p50_price,
                avg(l.l_quantity) as avg_qty
         from {order_lines} l join cr_part p on l.l_partkey = p.p_partkey
         group by p.p_brand"""),
    ("order_status", Nil,
      """select o_orderstatus, year(o_orderdate) as yr, count(*) as n_orders,
                sum(o_totalprice) as total_price
         from cr_orders group by o_orderstatus, year(o_orderdate)"""))

  private def ref(name: String) = TableRef(s"$db.$name")
  private def table(name: String) = spark.table(ref(name).render)

  /** `dbt run --full-refresh` of the models, then `dbt test`: compiles. */
  private def pass(): Long = {
    val c0 = Bench.compiledClasses()
    val st = ModelGraph.run(spark, models.map { case (name, deps, sql) =>
      ModelGraph.Model(name, deps) { _ =>
        val rendered = models.map(_._1).foldLeft(sql) { (s, m) =>
          s.replace(s"{$m}", ref(m).render) }
        Materializer.table(spark, ref(name), spark.sql(rendered))
      }
    })
    assert(st.values.forall(_ == ModelGraph.Success_), st)
    val rs = DataTests.runFused(spark, Seq(
      DataTests.Test("unique_ltv", DataTests.unique(table("customer_ltv"), Seq("c_custkey"))),
      DataTests.Test("not_null_revenue", DataTests.notNull(table("customer_ltv"), "revenue")),
      DataTests.Test("unique_month",
        DataTests.unique(table("revenue_by_month"), Seq("n_name", "ym"))),
      DataTests.Test("accepted_status",
        DataTests.acceptedValues(table("order_status"), "o_orderstatus", Seq("F", "O", "P"))),
      DataTests.Test("rel_lines_customers", DataTests.relationships(
        table("order_lines"), "o_custkey", table("customers"), "c_custkey")),
      DataTests.Test("unique_supplier", DataTests.unique(table("supplier_rank"), Seq("s_suppkey")))))
    assert(rs.forall(_.failures == 0), rs)
    DataTests.profileApprox(table("customer_ltv"), Seq("revenue", "n_orders", "n_name")).collect()
    DataTests.profileApprox(table("order_lines"), Seq("net_price", "l_partkey")).collect()
    Bench.compiledClasses() - c0
  }

  test("a repeated DAG build and test pass reuses its compiled classes") {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    try {
      stage()
      val first = pass()
      val second = pass()
      val metaspace = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName == "Metaspace").map(_.getUsage.getUsed).sum
      info(s"compiled $first classes, then $second; Metaspace used ${metaspace >> 20} MB")
      assert(first > 100,
        s"the first pass compiled only $first classes: too few to overflow a 100-entry cache")
      assert(second * 10 <= first,
        s"the repeat recompiled $second of the first pass's $first classes")
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }
}
