package graftbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.catalog.TableRef
import graft.exec.DataTests
import graft.mat.{Materializer, SeedLoader}
import graft.pipeline.{ModelGraph, SqlModels}

/** `dbt run --full-refresh` then `dbt test` over the model DAG in
  * `models/`, on generated TPC-H-shaped sources. One operation is
  * one full refresh plus one test pass. */
final class DagRefresh(ctx: Ctx) extends Workload {
  import ctx._
  private val db = "analytics"
  private final case class ModelDef(name: String, kind: String, sql: String) {
    val deps: Seq[String] = SqlModels.refsOf(sql)
  }
  private val models: Seq[ModelDef] =
    new File(s"$benchDir/models").listFiles().filter(_.getName.endsWith(".sql"))
      .sortBy(_.getName).toSeq.map { f =>
        val sql = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        val kind = "-- materialized: (\\w+)".r.findFirstMatchIn(sql).get.group(1)
        ModelDef(f.getName.stripSuffix(".sql"), kind, sql)
      }
  private def ref(name: String) = TableRef(s"$db.$name")
  /** (op, model, start ms, end ms) of every model build. */
  private val modelTimes = new ConcurrentLinkedQueue[(Int, String, Long, Long)]()
  private val runTimes = new ConcurrentLinkedQueue[(Int, Long, Long)]()
  private var seen = Map.empty[String, Long]
  private var testsPerPass = 0

  def maxOps: Int = Int.MaxValue

  def setup(): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS raw")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    new File(s"$inputs/raw").listFiles().sortBy(_.getName).foreach { f =>
      spark.catalog.createTable(s"raw.${f.getName.stripSuffix(".parquet")}",
        f.getAbsolutePath, "parquet")
    }
  }

  private def build(m: ModelDef): Unit = m.kind match {
    case "seed" => tracer.span("mat.seed") {
      SeedLoader.seed(spark, s"$inputs/seeds/${m.name}.csv", ref(m.name))
    }
    case "view" => tracer.span("pipeline.sql_model") {
      SqlModels.runSqlModel(spark, db, m.name, m.sql, "view")
    }
    case "table" =>
      val sql = SqlModels.render(m.sql, ref(m.name), ref, (s, t) => TableRef(s"$s.$t"))
      tracer.span("mat.table")(Materializer.table(spark, ref(m.name), spark.sql(sql)))
    case "materialized_view" =>
      val sql = SqlModels.render(m.sql, ref(m.name), ref, (s, t) => TableRef(s"$s.$t"))
      tracer.span("mat.materialized_view")(
        Materializer.materializedView(spark, ref(m.name), sql))
  }

  private def tests(): Seq[DataTests.Test] = {
    def t(n: String) = spark.table(ref(n).render)
    Seq(
      DataTests.Test("unique_ltv_custkey", DataTests.unique(t("mart_customer_ltv"), Seq("c_custkey"))),
      DataTests.Test("not_null_ltv_revenue", DataTests.notNull(t("mart_customer_ltv"), "revenue")),
      DataTests.Test("unique_revenue_nation_month",
        DataTests.unique(t("mart_revenue_by_nation_month"), Seq("n_name", "ym"))),
      DataTests.Test("accepted_order_status",
        DataTests.acceptedValues(t("mart_order_status"), "o_orderstatus", Seq("F", "O", "P"))),
      DataTests.Test("rel_lines_customers", DataTests.relationships(
        t("int_order_lines"), "o_custkey", t("int_customers"), "c_custkey")),
      DataTests.Test("unique_supplier", DataTests.unique(t("mart_supplier_rank"), Seq("s_suppkey"))),
      DataTests.Test("not_null_segment_group", DataTests.notNull(t("int_customers"), "segment_group")))
  }

  def op(i: Int): Unit = {
    val runStart = System.currentTimeMillis()
    val status = tracer.span("pipeline.run") {
      val parent = tracer.open
      ModelGraph.run(spark, models.map { m =>
        ModelGraph.Model(m.name, m.deps) { _ =>
          val t0 = System.currentTimeMillis()
          tracer.span("pipeline.model", parent)(build(m))
          modelTimes.add((i, m.name, t0, System.currentTimeMillis()))
        }
      }, nproc)
    }
    runTimes.add((i, runStart, System.currentTimeMillis()))
    val failedModels = status.collect { case (n, s) if s != ModelGraph.Success_ => s"$n: $s" }
    if (failedModels.nonEmpty) throw new IllegalStateException(failedModels.mkString("; "))
    tracer.span("exec.datatests") {
      val ts = tests()
      testsPerPass = ts.size
      val failing = DataTests.runFused(spark, ts).filter(_.failures > 0)
      DataTests.profileApprox(spark.table(ref("mart_customer_ltv").render),
        Seq("revenue", "n_orders", "n_name")).collect()
      DataTests.profileApprox(spark.table(ref("int_order_lines").render),
        Seq("net_price", "l_partkey")).collect()
      if (failing.nonEmpty) throw new IllegalStateException(s"dbt test failures: $failing")
    }
  }

  override def afterOp(i: Int, rec: OpRec): Unit = {
    val now = Files.under(spark.catalog.getDatabase(db).locationUri)
    rec.bytesWritten = Files.newBytes(seen, now)
    rec.inputBytes = (Files.under(s"$inputs/raw") ++ Files.under(s"$inputs/seeds")).values.sum
    seen = now
  }

  private def tables: Seq[String] =
    models.filter(m => m.kind == "table" || m.kind == "materialized_view").map(_.name)

  def finish(lastOp: Int, plant: Boolean): Map[String, Any] = {
    tables.foreach { t =>
      val df = spark.table(ref(t).render)
      val out = if (plant && t == "mart_customer_ltv")
        df.withColumn("revenue", when(col("nation_rank") === 1, col("revenue") + 1)
          .otherwise(col("revenue")))
      else df
      out.write.mode("overwrite").parquet(s"$work/export/$t")
    }
    Map("tables" -> tables)
  }

  override def extras(ops: Int): Map[String, Double] = {
    val deps = models.map(m => m.name -> m.deps).toMap
    val byOp = modelTimes.asScala.toSeq.groupBy(_._1)
    val runs = runTimes.asScala.map(r => r._1 -> (r._2, r._3)).toMap
    val perOp = byOp.toSeq.filter(_._1 >= warmup).map { case (i, ms) =>
      val t = ms.map(m => m._2 -> (m._3, m._4)).toMap
      val (runStart, runEnd) = runs(i)
      val readyWait = t.map { case (n, (s, _)) =>
        val ready = (deps(n).map(d => t(d)._2) :+ runStart).max
        math.max(0L, s - ready) / 1e3
      }.sum
      val memo = scala.collection.mutable.Map.empty[String, Double]
      def path(n: String): Double = memo.getOrElseUpdate(n,
        (t(n)._2 - t(n)._1) / 1e3 + (deps(n).map(path) :+ 0.0).max)
      val durations = t.values.map { case (s, e) => (e - s) / 1e3 }.toSeq
      (readyWait, t.keys.map(path).max, durations.sum / ((runEnd - runStart) / 1e3),
        durations)
    }
    val all = perOp.flatMap(_._4).sorted
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map(
      "pipeline.model_p50_s" -> (if (all.isEmpty) 0.0 else all(all.size / 2)),
      "pipeline.model_max_s" -> (if (all.isEmpty) 0.0 else all.last),
      "pipeline.ready_wait_s" -> mean(perOp.map(_._1)),
      "pipeline.critical_path_s" -> mean(perOp.map(_._2)),
      "pipeline.concurrency" -> mean(perOp.map(_._3)),
      "exec.datatests.tests" -> testsPerPass.toDouble)
  }
}
