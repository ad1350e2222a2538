package graftbench

import java.io.File
import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.catalog.{CatalogOps, PartitionSpec, TableRef}
import graft.exec.{Incremental, Maintenance, SnapshotExec}
import graft.mat.Materializer
import graft.mat.Materializer.IncrementalStrategy

/** Seeded change cycles against day-partitioned targets, one incremental
  * model per strategy plus an SCD-2 snapshot, a catalog listing, read-back
  * queries, and maintenance every `MaintainEvery` cycles (cycle 0 and
  * every cycle i with i % MaintainEvery == 1). Operation i applies change
  * batch i + 1. */
final class IncrementalCycles(ctx: Ctx) extends Workload {
  import ctx._
  private val db = "inc"
  private def t(name: String) = TableRef(s"$db.$name")
  private val merge = t("t_merge")
  private val delins = t("t_delins")
  private val appendT = t("t_append")
  private val daily = t("t_daily")
  private val mb = t("t_mb")
  private val snap = t("t_snap")
  private val targets = Seq(merge, delins, appendT, daily, mb, snap)
  private val byDay = PartitionSpec.Static(Seq("day" -> "string"))
  private val byEventDay = PartitionSpec.Auto("event_ts", "day")
  private val MaintainEvery = 2

  private val manifest = new String(java.nio.file.Files.readAllBytes(
    new File(s"$inputs/manifest.json").toPath), "UTF-8")
  private val hotDay = java.time.LocalDate.parse(
    "\"hot_day\": \"([0-9-]+)\"".r.findFirstMatchIn(manifest).get.group(1))
  private val t0 = "\"t0\": (\\d+)".r.findFirstMatchIn(manifest).get.group(1).toLong
  private def dayStart(d: java.time.LocalDate) =
    Timestamp.from(d.atStartOfDay(java.time.ZoneOffset.UTC).toInstant)
  // microbatch look-back: the hot day and the two before it
  private val mbStart = dayStart(hotDay.minusDays(2))
  private val mbEnd = dayStart(hotDay.plusDays(1))
  private val cycleFiles = new File(s"$inputs/changes").listFiles().map(_.getPath).sorted

  private var seen = Map.empty[String, Long]
  private val tableFiles = mutable.ArrayBuffer.empty[(Double, Double)]
  private val rowsIn = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val maintFiles = mutable.ArrayBuffer.empty[(Double, Double)]

  override def period: Int = MaintainEvery
  def maxOps: Int = cycleFiles.length

  private def typed(df: DataFrame): DataFrame =
    df.withColumn("updated_at", timestamp_seconds(col("updated_s")))
      .withColumn("event_ts", timestamp_seconds(col("event_s")))
      .drop("updated_s", "event_s")

  private val stateCols = Seq("id", "day", "k1", "k2", "val", "is_deleted", "updated_at", "event_ts")
  private def changes(i: Int) = typed(spark.read.parquet(cycleFiles(i)))
  private def dailySrc(touched: DataFrame) =
    spark.table(merge.render).filter(!col("is_deleted"))
      .join(touched.select("day").distinct(), Seq("day"), "left_semi")
      .groupBy("day").agg(count(lit(1)).as("n"), sum("val").as("total"))
  private def mbSrc = spark.table(appendT.render).select("id", "k1", "val", "op", "event_ts")

  def setup(): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val base = typed(spark.read.parquet(s"$inputs/base.parquet"))
    Materializer.incremental(spark, merge, base, IncrementalStrategy.Merge(),
      Seq("id"), byDay)
    Materializer.incremental(spark, delins, base, IncrementalStrategy.DeleteInsert,
      Seq("id"), byDay)
    Materializer.incremental(spark, appendT, base.withColumn("op", lit("base")),
      IncrementalStrategy.Append, partition = byDay)
    Materializer.incremental(spark, daily, dailySrc(base), IncrementalStrategy.InsertOverwrite,
      partition = byDay)
    Materializer.incremental(spark, mb, mbSrc, IncrementalStrategy.InsertOverwrite,
      partition = byEventDay)
    SnapshotExec.run(spark, snap, spark.table(merge.render), Seq("id"),
      SnapshotExec.TimestampStrategy("updated_at"), new Timestamp(t0 * 1000))
    seen = Files.under(dbDir)
  }

  private def dbDir = spark.catalog.getDatabase(db).locationUri

  def op(i: Int): Unit = {
    val chg = changes(i)
    tracer.span("catalog") {
      CatalogOps.listRelations(spark, db)
      targets.foreach { r =>
        CatalogOps.exists(spark, r)
        CatalogOps.getColumnsInRelation(spark, r, PartitionSpec.None)
      }
    }
    tracer.span("exec.incremental.merge")(Materializer.incremental(spark, merge,
      chg.select(stateCols.map(col): _*), IncrementalStrategy.Merge(), Seq("id"), byDay))
    tracer.span("exec.incremental.delete_insert")(Materializer.incremental(spark, delins,
      chg.select(stateCols.map(col): _*), IncrementalStrategy.DeleteInsert, Seq("id"), byDay))
    tracer.span("exec.incremental.append")(Materializer.incremental(spark, appendT,
      chg.select((stateCols :+ "op").map(col): _*), IncrementalStrategy.Append,
      partition = byDay))
    tracer.span("exec.incremental.insert_overwrite")(Materializer.incremental(spark, daily,
      dailySrc(chg), IncrementalStrategy.InsertOverwrite, partition = byDay))
    tracer.span("exec.incremental.microbatch")(Incremental.microbatch(spark, mb, mbSrc,
      "event_ts", byEventDay, mbStart, mbEnd))
    tracer.span("exec.incremental.snapshot")(SnapshotExec.run(spark, snap,
      spark.table(merge.render), Seq("id"), SnapshotExec.TimestampStrategy("updated_at"),
      new Timestamp((t0 + (i + 1) * 3600L) * 1000)))
    Seq(
      s"SELECT day, count(*) AS n, sum(val) AS total FROM ${delins.render} " +
        "WHERE NOT is_deleted GROUP BY day",
      s"SELECT day, count(*) AS n FROM ${appendT.render} GROUP BY day",
      s"SELECT event_ts_trunc, count(*) AS n FROM ${mb.render} GROUP BY event_ts_trunc"
    ).foreach(q => tracer.span("exec.readback")(spark.sql(q).collect()))
    if (i == 0 || i % MaintainEvery == 1) {
      val before = if (tracer.enabled) dataFiles(Seq(appendT, merge)) else 0
      tracer.span("exec.maintenance") {
        Maintenance.compact(spark, appendT, byDay, maxFiles = 1)
        Maintenance.zorderCompact(spark, merge, byDay, "k1", "k2", maxFiles = 0)
        Maintenance.recover(spark, merge)
      }
      if (tracer.enabled && i >= warmup) maintFiles += ((before.toDouble, dataFiles(Seq(appendT, merge)).toDouble))
    }
  }

  private def dataFiles(rs: Seq[TableRef]): Int =
    rs.map(r => spark.table(r.render).inputFiles.length).sum

  override def afterOp(i: Int, rec: OpRec): Unit = {
    val now = Files.under(dbDir)
    rec.bytesWritten = Files.newBytes(seen, now)
    rec.inputBytes = new File(cycleFiles(i)).length()
    seen = now
    if (tracer.enabled && i >= warmup) {
      val live = targets.flatMap(r => spark.table(r.render).inputFiles)
      tableFiles += ((live.size.toDouble,
        live.map(p => new File(new java.net.URI(p)).length()).sum.toDouble))
      val n = changes(i).count()
      Seq("merge", "delete_insert", "append").foreach(s => rowsIn(s) += n)
      rowsIn("insert_overwrite") += changes(i).select("day").distinct().count()
      rowsIn("microbatch") += mbSrc.filter(col("event_ts") >= mbStart && col("event_ts") < mbEnd).count()
      rowsIn("snapshot") += spark.table(merge.render).count()
    }
  }

  def finish(lastOp: Int, plant: Boolean): Map[String, Any] = {
    targets.foreach { r =>
      val df = spark.table(r.render)
      val out = if (plant && r == merge)
        df.withColumn("val", when(col("id") === 0, col("val") + 1).otherwise(col("val")))
      else df
      out.write.mode("overwrite").parquet(s"$work/export/${r.name}")
    }
    Map("cycles" -> cycleFiles.take(lastOp + 1).map(f => new File(f).getName).toSeq,
      "mb_start" -> mbStart.getTime / 1000, "mb_end" -> mbEnd.getTime / 1000,
      "tables" -> targets.map(_.name))
  }

  override def extras(ops: Int): Map[String, Double] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map(
      "exec.table.files" -> mean(tableFiles.map(_._1).toSeq),
      "exec.table.bytes" -> mean(tableFiles.map(_._2).toSeq),
      "exec.maintenance.files_before" -> mean(maintFiles.map(_._1).toSeq),
      "exec.maintenance.files_after" -> mean(maintFiles.map(_._2).toSeq),
      "catalog.calls" -> (1 + 2 * targets.size).toDouble) ++
      rowsIn.map { case (s, n) => s"exec.incremental.$s.rows_in" -> n.toDouble / math.max(1, ops) }
  }
}
