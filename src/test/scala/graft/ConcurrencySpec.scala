package graft

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.functions._
import graft.catalog.{PartitionSpec, TableRef}
import graft.exec.{Incremental, Maintenance, Retry}
import graft.mat.Materializer

/** Same-table concurrency end to end through the rename swap — the engine
  * twin of the reference's thread-parallel pin
  * (tests/functional/adapter/test_concurrency.py, retried by
  * wrapper.py:46-76):
  *
  *  - N concurrent merges touching DISJOINT partitions must all land (no
  *    lost partitions, no staging-table/trash collisions — both carry
  *    per-swap stamps);
  *  - concurrent overwrites of the SAME partition must converge to one
  *    writer's rows entirely (a serial order), never an interleaved mix —
  *    the swap is all-or-nothing per partition;
  *  - a whole-operation retry with [[Retry.staleScan]] absorbs the read
  *    races a concurrent swap inflicts on a running scan;
  *  - a losing whole-table writer rolls its staging and old tables back,
  *    so no `__graft_stg_`/`__graft_old_` table outlives the race;
  *  - afterwards, Maintenance.recover finds nothing data-bearing to fix
  *    and the table content is unchanged.
  */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  /** Whole-operation retry loop: REFRESH then rerun on a stale-scan or
    * catalog race — what the reference wrapper does per model run. */
  private def retryRun(target: TableRef)(body: => Unit): Unit =
    Retry.withRetries(attempts = 10,
      retryOn = t => Retry.transientRace(t) || Retry.staleScan(t) ||
        Retry.tableRenameRace(t, target.name)) {
      if (spark.catalog.tableExists(target.render.replace("`", "")))
        spark.sql(s"REFRESH TABLE ${target.render}")
      body
    }

  private def inParallel(n: Int)(task: Int => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(
      Future.sequence((0 until n).map(i => Future(task(i)))), 120.seconds)
    finally pool.shutdown()
  }

  private def tables(): Set[String] =
    spark.catalog.listTables("default").collect().map(_.name).toSet

  private def trashLeftovers(ref: TableRef): Seq[String] = {
    val loc = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(
        ref.render.replace("`", ""))).location
    val dir = new java.io.File(new org.apache.hadoop.fs.Path(loc).toUri.getPath)
    Option(dir.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith(".graft_trash"))
  }

  test("[rename] concurrent disjoint-partition merges all land") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = TableRef("default.cc_merge")
    val n = 4
    val init = (0 until n).flatMap(i =>
      (0 until 5).map(j => (i * 1000L + j, "init", s"a$i")))
    Materializer.table(spark, ref, init.toDF("id", "v", "pt"), part)
    inParallel(n) { i =>
      // thread i updates its own partition a<i> and creates b<i>
      val src = ((0 until 5).map(j => (i * 1000L + j, s"upd$i", s"a$i")) ++
        (0 until 3).map(j => (9000L + i * 10 + j, s"new$i", s"b$i")))
        .toDF("id", "v", "pt")
      retryRun(ref) {
        Incremental.merge(spark, ref, src, uniqueKey = Seq("id"),
          partition = part)
      }
    }
    spark.sql(s"REFRESH TABLE ${ref.render}")
    val got = spark.table(ref.render).as[(Long, String, String)]
      .collect().toSet
    val want = ((0 until n).flatMap(i =>
      (0 until 5).map(j => (i * 1000L + j, s"upd$i", s"a$i"))) ++
      (0 until n).flatMap(i =>
        (0 until 3).map(j => (9000L + i * 10 + j, s"new$i", s"b$i")))).toSet
    assert(got == want, s"lost/mixed rows: missing=${want -- got} extra=${got -- want}")
    assert(!tables().exists(_.startsWith("cc_merge__graft_stg")),
      "stamped staging tables must not leak")
    assert(trashLeftovers(ref).isEmpty,
      s"trash leftovers: ${trashLeftovers(ref)}")
    // recover afterwards: content unchanged
    Maintenance.recover(spark, ref)
    assert(spark.table(ref.render).as[(Long, String, String)]
      .collect().toSet == want)
  }

  test("[rename] concurrent same-partition overwrites pick one writer whole") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = TableRef("default.cc_same")
    Materializer.table(spark, ref,
      (0 until 5).map(j => (j.toLong, "init", "x")).toDF("id", "v", "pt"), part)
    for (round <- 0 until 3) {
      inParallel(2) { i =>
        val src = (0 until 5)
          .map(j => (100L * (i + 1) + j, s"w$i", "x")).toDF("id", "v", "pt")
        retryRun(ref) {
          Incremental.insertOverwriteDynamic(spark, ref, src, part)
        }
      }
      spark.sql(s"REFRESH TABLE ${ref.render}")
      val got = spark.table(ref.render).as[(Long, String, String)]
        .collect().toSet
      val w0 = (0 until 5).map(j => (100L + j, "w0", "x")).toSet
      val w1 = (0 until 5).map(j => (200L + j, "w1", "x")).toSet
      assert(got == w0 || got == w1,
        s"round $round: torn partition content: $got")
    }
    assert(trashLeftovers(ref).isEmpty, s"leftovers: ${trashLeftovers(ref)}")
  }

  test("[rename] concurrent whole-table replaces: one writer wins whole") {
    val ref = TableRef("default.cc_flip")
    spark.sql(s"DROP TABLE IF EXISTS ${ref.render}")
    Seq((0L, "init")).toDF("id", "v").write.saveAsTable(ref.render)
    for (round <- 0 until 3) {
      inParallel(2) { i =>
        val rows = (0 until 4).map(j => (100L * (i + 1) + j, s"w$i"))
        retryRun(ref) {
          graft.exec.AtomicWriter.overwriteTable(spark,
            rows.toDF("id", "v"), ref)
        }
      }
      spark.sql(s"REFRESH TABLE ${ref.render}")
      val got = spark.table(ref.render).as[(Long, String)].collect().toSet
      val w0 = (0 until 4).map(j => (100L + j, "w0")).toSet
      val w1 = (0 until 4).map(j => (200L + j, "w1")).toSet
      assert(got == w0 || got == w1, s"round $round: torn table: $got")
      // the set check collapses duplicates: a winner's files read twice
      // would still pass it
      assert(spark.table(ref.render).count() == 4,
        s"round $round: duplicated rows")
    }
    // every losing attempt rolled its staging and old tables back
    val leaked = tables().filter(t => t.startsWith("cc_flip__graft_stg_") ||
      t.startsWith("cc_flip__graft_old_"))
    assert(leaked.isEmpty, s"leaked swap helpers: $leaked")
    // recover must not change what readers see
    val before = spark.table(ref.render).as[(Long, String)].collect().toSet
    Maintenance.recover(spark, ref)
    assert(spark.table(ref.render).as[(Long, String)].collect().toSet == before)
  }

  test("recover sweeps stamped staging leftovers by prefix") {
    val ref = TableRef("default.cc_sweep")
    Materializer.table(spark, ref, Seq((1L, "p")).toDF("id", "pt"),
      PartitionSpec.Static(Seq("pt" -> "string")))
    Seq((9L, "q")).toDF("id", "pt").write.mode("overwrite")
      .saveAsTable("default.cc_sweep__graft_stg_0000000000001_000042")
    val actions = Maintenance.recover(spark, ref)
    assert(actions.exists(_.contains("cc_sweep__graft_stg_0000000000001_000042")))
    assert(!tables().exists(_.startsWith("cc_sweep__graft_stg")))
    assert(spark.table(ref.render).count() == 1)
  }
}
