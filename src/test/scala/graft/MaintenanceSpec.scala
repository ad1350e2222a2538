package graft

import org.apache.spark.sql.functions._
import graft.catalog.{PartitionSpec, TableRef}
import graft.exec.{AtomicWriter, Maintenance}
import graft.mat.Materializer

class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("compact rewrites only many-file partitions; content unchanged") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = TableRef("default.maint_compact")
    Materializer.table(spark, ref,
      Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("id", "v", "pt"), part)
    // fragment p1 with 5 single-row appends
    (10L to 14L).foreach { i =>
      AtomicWriter.append(spark,
        Seq((i, s"x$i", "p1")).toDF("id", "v", "pt"), ref, part)
    }
    val before = Maintenance.partitionFileCounts(spark, ref, part)
    assert(before("pt=p1") >= 6)
    assert(before("pt=p2") == 1)
    val content = spark.table(ref.render).orderBy("id").collect().map(_.toSeq)

    val compacted = Maintenance.compact(spark, ref, part, maxFiles = 3)
    assert(compacted == Seq("pt=p1"))
    val after = Maintenance.partitionFileCounts(spark, ref, part)
    assert(after("pt=p1") == 1, s"p1 not compacted: $after")
    assert(after("pt=p2") == 1)
    assert(spark.table(ref.render).orderBy("id").collect().map(_.toSeq)
      .toSeq == content.toSeq)
    // idempotent: nothing left to compact
    assert(Maintenance.compact(spark, ref, part, maxFiles = 3).isEmpty)
  }

  test("analyze records row-count statistics for the optimizer") {
    val ref = TableRef("default.maint_stats")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.mode("overwrite").saveAsTable(ref.render)
    Maintenance.analyze(spark, ref)
    val stats = spark.sessionState.catalog
      .getTableMetadata(spark.sessionState.sqlParser
        .parseTableIdentifier(ref.render)).stats
    assert(stats.isDefined && stats.get.rowCount.contains(BigInt(3)))
  }

  test("Retry retries transient races with backoff and returns the result") {
    var calls = 0
    val slept = scala.collection.mutable.ListBuffer[Long]()
    val r = graft.exec.Retry.withRetries(attempts = 10, sleep = slept += _) {
      calls += 1
      if (calls < 3) throw new java.io.IOException("connection reset")
      42
    }
    assert(r == 42 && calls == 3)
    assert(slept.toSeq == Seq(200L, 400L)) // exponential from 200 ms
  }

  test("Retry gives up after the attempt budget and propagates the failure") {
    var calls = 0
    val e = intercept[java.io.IOException] {
      graft.exec.Retry.withRetries(attempts = 4, sleep = _ => ()) {
        calls += 1
        throw new java.io.IOException("lease expired")
      }
    }
    assert(calls == 4 && e.getMessage.contains("lease"))
  }

  test("recover refuses to sweep while a writer lease is fresh; sweeps after release") {
    val ref = TableRef("default.maint_lease_race")
    Seq((1L, "a")).toDF("id", "v")
      .write.mode("overwrite").saveAsTable(ref.render)
    // an abandoned staging table with an ANCIENT stamp (year 2001): only
    // the lease protects it
    val stg = ref.copy(name = ref.name + "__graft_stg_1000000000000_000001")
    Seq((9L, "z")).toDF("id", "v").write.saveAsTable(stg.render)
    // a "live writer": heartbeated presence marker held across the recover
    val release = new java.util.concurrent.CountDownLatch(1)
    val held = new java.util.concurrent.CountDownLatch(1)
    val writer = new Thread(() => {
      graft.exec.WriterLease.holding(spark, ref, "1000000000000_000001") {
        held.countDown()
        release.await()
      }
    })
    writer.start()
    held.await()
    val skipped = Maintenance.recover(spark, ref)
    assert(skipped.size == 1 && skipped.head.contains("SKIPPED"),
      s"recover must refuse under a live lease: $skipped")
    assert(spark.catalog.tableExists(stg.render),
      "live writer's staging table was swept")
    release.countDown()
    writer.join(10000)
    val swept = Maintenance.recover(spark, ref)
    assert(swept.exists(_.contains("__graft_stg_1000000000000_000001")),
      s"released lease must unblock the sweep: $swept")
    assert(!spark.catalog.tableExists(stg.render))
  }

  test("a dead writer's lease ages out; a live one heartbeats past the ceiling") {
    val ref = TableRef("default.maint_lease_age")
    Seq((1L, "a")).toDF("id", "v")
      .write.mode("overwrite").saveAsTable(ref.render)
    spark.conf.set("spark.graft.lease.maxAgeMs", "300")
    try {
      // crashed writer: marker exists but nothing heartbeats it
      val cat = spark.sessionState.catalog
      val dbDir = new org.apache.hadoop.fs.Path(
        cat.getDatabaseMetadata("default").locationUri)
      val dir = new org.apache.hadoop.fs.Path(dbDir, ".graft_writer_leases")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(dir)
      val dead = new org.apache.hadoop.fs.Path(dir,
        s"${ref.name}__1000000000000_000002")
      fs.create(dead, true).close()
      assert(graft.exec.WriterLease.liveWriters(spark, ref).nonEmpty)
      Thread.sleep(400)
      assert(graft.exec.WriterLease.liveWriters(spark, ref).isEmpty,
        "un-heartbeated marker must age out of the ceiling")
      assert(!fs.exists(dead), "aged-out marker must be reclaimed")
      // live writer: the heartbeat (interval = ceiling/3 = 100 ms) keeps
      // the marker fresh well past the ceiling
      val done = new java.util.concurrent.CountDownLatch(1)
      val t = new Thread(() => {
        graft.exec.WriterLease.holding(spark, ref, "1000000000000_000003") {
          done.await()
        }
      })
      t.start()
      Thread.sleep(700)
      assert(graft.exec.WriterLease.liveWriters(spark, ref).nonEmpty,
        "heartbeated marker aged out despite a live writer")
      done.countDown()
      t.join(10000)
      assert(graft.exec.WriterLease.liveWriters(spark, ref).isEmpty,
        "release must remove the marker")
    } finally spark.conf.unset("spark.graft.lease.maxAgeMs")
  }

  test("Retry does NOT retry data-destroying or unknown failures") {
    var calls = 0
    intercept[java.io.IOException] {
      graft.exec.Retry.withRetries(attempts = 10, sleep = _ => ()) {
        calls += 1
        throw new java.io.IOException("swap rollback INCOMPLETE for x")
      }
    }
    assert(calls == 1, "rollback failures must surface immediately")
    calls = 0
    intercept[IllegalArgumentException] {
      graft.exec.Retry.withRetries(attempts = 10, sleep = _ => ()) {
        calls += 1
        throw new IllegalArgumentException("bad arity")
      }
    }
    assert(calls == 1)
  }
}
