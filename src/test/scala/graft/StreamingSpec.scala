package graft

import org.apache.spark.sql.functions._
import graft.catalog.{PartitionSpec, TableRef}
import graft.mat.Materializer
import graft.streaming.Streaming

/** The streaming execution mode must produce the SAME final state as its
  * batch twin (SURVEY.md §2.6: streaming is optional, semantics are pinned
  * by the batch operators). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("windowed aggregation over the events stream matches the batch result") {
    val events = Tables.t(spark, dir, "events")
    val tmp = java.nio.file.Files.createTempDirectory("stream_src")
    events.write.mode("overwrite").parquet(tmp.toString) // µs-normalized copy
    val stream = Streaming.parquetStream(spark, tmp.toString)
    val agg = Streaming.windowedCounts(stream, "ts", "1 hour", "1 day")
    val q = agg.writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("win_counts")
      .select($"window_start", $"event_type", $"n", $"total_value")
      .orderBy($"window_start", $"event_type").collect().toSeq
    // contract (Streaming.windowedCounts): window bounds come back in the
    // SOURCE column's flavor — the testdata's naive µs ts is TIMESTAMP_NTZ,
    // so the batch twin's date_trunc (always TIMESTAMP) casts back to it
    val want = events
      .groupBy(date_trunc("day", $"ts").cast(events.schema("ts").dataType)
        .as("window_start"), $"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,4)")).cast("double").as("total_value"))
      .orderBy($"window_start", $"event_type").collect().toSeq
    assert(got == want)
  }

  test("streaming microbatch reaches the same table state as batch insert_overwrite") {
    val events = Tables.t(spark, dir, "events")
      .select($"event_id", $"event_type", $"value",
        date_trunc("second", $"ts").as("ts_sec"))
    val part = PartitionSpec.Auto("ts_sec", "day", Some("pt"))

    // batch twin
    val batchRef = TableRef("default.mb_batch")
    Materializer.table(spark, batchRef,
      graft.exec.AtomicWriter.withPartitionCols(events, part), part)

    // streaming path into an empty table with the same schema
    val streamRef = TableRef("default.mb_stream")
    Materializer.table(spark, streamRef,
      graft.exec.AtomicWriter.withPartitionCols(events, part).limit(0), part)
    val tmp = java.nio.file.Files.createTempDirectory("stream_mb")
    events.write.mode("overwrite").parquet(tmp.toString)
    val stream = Streaming.parquetStream(spark, tmp.toString)
    val ckpt = java.nio.file.Files.createTempDirectory("stream_ckpt")
    val q = Streaming.microbatchStream(spark, stream, streamRef, part, ckpt.toString)
    Streaming.runToCompletion(q)

    val a = spark.table(batchRef.render).orderBy($"event_id").collect().toSeq
    val b = spark.table(streamRef.render).orderBy($"event_id").collect().toSeq
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("streaming dedup with watermark matches batch dropDuplicates") {
    val ev = Tables.t(spark, dir, "events")
      .select($"event_id", date_trunc("second", $"ts").as("ts"), $"user_id")
    // plant duplicates: every 5th event appears twice
    val dup = ev.unionByName(ev.filter($"event_id" % 5 === 0))
    val tmp = java.nio.file.Files.createTempDirectory("dedup_src")
    dup.write.mode("overwrite").parquet(tmp.toString)
    val deduped = Streaming.dedupStream(
      Streaming.parquetStream(spark, tmp.toString),
      tsCol = "ts", watermark = "1 hour", keys = Seq("event_id"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("dedup_out").select($"event_id")
      .as[Long].collect().sorted.toSeq
    val want = ev.select($"event_id").distinct().as[Long].collect().sorted.toSeq
    assert(got == want)
  }

  test("watermark dedup under disorder past the horizon: dups dropped, " +
      "a late new key lost") {
    import org.apache.spark.sql.streaming.Trigger
    import MatQueries.{drainSlabs, landSlabs}
    // slab k = hour k, drained in order under a 1-hour watermark: 60
    // filler keys (one per minute of the hour) plus scenario rows, each
    // (key, event minute)
    def slab(k: Int) = {
      val scenario = k match {
        case 0 => Seq((-1L, 30), (-1L, 30), // A: dup in the same slab
          (-2L, 59), (-3L, 10))             // B and C originals
        case 1 => Seq((-2L, 59))            // B dup, next slab: state live
        case 3 => Seq((-3L, 10),            // C dup, 3 slabs late
          (-4L, 5))                         // D: a new key, 3 slabs late
        case _ => Seq.empty
      }
      ((0 until 60).map(m => (k * 60L + m, k * 60 + m)) ++ scenario)
        .toDF("key", "minute")
        .select($"key", expr("timestampadd(MINUTE, minute, " +
          "timestamp'2026-01-01 00:00:00')").as("ts"))
    }
    val base = MatQueries.tempDir("dedup_disorder")
    val schema = landSlabs(base, (0 until 4).map(slab))
    drainSlabs(spark, base, schema, s"$base/ckpt") { (src, ckpt) =>
      Streaming.dedupStream(src, "ts", "1 hour", Seq("key")).writeStream
        .format("parquet").option("path", s"$base/out")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    }
    val out = spark.read.parquet(s"$base/out")
    // C's replay is filtered as late before dedup looks at state, so it
    // cannot leak a duplicate; the same late filter drops D, a first
    // occurrence: the data-loss mode m18 avoids by time-ordering its slabs
    val kept = out.filter($"key" < 0).groupBy($"key").count()
      .as[(Long, Long)].collect().toMap
    assert(kept == Map(-1L -> 1L, -2L -> 1L, -3L -> 1L), kept)
    assert(out.filter($"key" >= 0).count() == 240)
  }

  test("watermarked stream-stream interval join matches the batch twin") {
    val ev = Tables.t(spark, dir, "events")
      .filter($"user_id" <= 40)
      .select($"user_id", date_trunc("second", $"ts").as("ts"),
        $"event_id", $"event_type", $"value")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id", $"value")
    val t1 = java.nio.file.Files.createTempDirectory("ij_l")
    val t2 = java.nio.file.Files.createTempDirectory("ij_r")
    clicks.write.mode("overwrite").parquet(t1.toString)
    purchases.write.mode("overwrite").parquet(t2.toString)
    val joined = Streaming.intervalJoin(
      Streaming.parquetStream(spark, t1.toString),
      Streaming.parquetStream(spark, t2.toString),
      key = "user_id", tsCol = "ts", watermark = "0 seconds",
      before = "1 HOUR", after = "1 HOUR")
    val q = joined.writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ij_out")
      .select($"user_id", $"l_event_id", $"r_event_id", $"r_value")
      .collect().map(_.toSeq).toSet
    val want = Streaming.intervalJoinBatch(clicks, purchases,
        "user_id", "ts", "1 HOUR", "1 HOUR")
      .select($"user_id", $"l_event_id", $"r_event_id", $"r_value")
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty)
    assert(got == want, s"diff: missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("sessionize: a late event joins the session it belongs to, not the newest") {
    import graft.streaming.Streaming.SessionEvent
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val sessions = Streaming.sessionize(mem.toDS(),
      java.time.Duration.ofMinutes(5), watermark = "2 hours")
    val q = sessions.writeStream.format("memory").queryName("sess_late")
      .outputMode("append").start()
    def ev(sec: Long) = SessionEvent(1L, new java.sql.Timestamp(sec * 1000))
    // batch 1: two sessions far apart — [1000,1000] and [3000,3000]
    mem.addData(ev(1000), ev(3000)); q.processAllAvailable()
    // batch 2: late event t=1100 (above watermark) belongs to the FIRST
    // session — the old head-only merge attached it to [3000,3000]
    mem.addData(ev(1100)); q.processAllAvailable()
    // batch 3: advance watermark far enough to close the first session
    mem.addData(ev(12000)); q.processAllAvailable()
    q.stop()
    val out = spark.table("sess_late")
      .orderBy($"session_start").collect()
      .map(r => (r.getTimestamp(1).getTime / 1000, r.getTimestamp(2).getTime / 1000,
        r.getLong(3))).toSeq
    assert(out.contains((1000L, 1100L, 2L)),
      s"first session must be [1000,1100] with 2 events, got $out")
  }

  test("stateful sessionization: streaming closed sessions match the batch twin") {
    import graft.streaming.Streaming.SessionEvent
    val events = Tables.t(spark, dir, "events")
      .select($"user_id", date_trunc("second", $"ts").as("ts"))
    val tmp = java.nio.file.Files.createTempDirectory("sess_src")
    events.write.mode("overwrite").parquet(tmp.toString)
    val stream = graft.streaming.Streaming.parquetStream(spark, tmp.toString)
      .as[SessionEvent]
    val sessions = graft.streaming.Streaming.sessionize(stream,
      java.time.Duration.ofMinutes(30), watermark = "0 seconds")
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("sess_out")
      .orderBy($"user_id", $"session_start").collect().toSeq
    val batch = graft.streaming.Streaming.sessionizeBatch(events, 30)
    // the stream's final watermark leaves the last session per user OPEN —
    // compare against the batch sessions that end before the max event time
    // minus the gap (those are closed in both)
    val cutoff = events.agg(max($"ts")).collect().head.getTimestamp(0).getTime - 30*60000L
    val closedBatch = batch.filter(unix_millis($"session_end") < lit(cutoff))
      .orderBy($"user_id", $"session_start").collect().toSeq
    assert(got.nonEmpty)
    val gotKeys = got.map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    val batchKeys = closedBatch.map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    assert(batchKeys.subsetOf(gotKeys),
      s"missing sessions: ${(batchKeys -- gotKeys).take(3)}")
  }

  test("microbatch stream replay of a written-but-uncommitted batch is idempotent") {
    import graft.catalog.{PartitionSpec, TableRef}
    spark.sql("DROP TABLE IF EXISTS default.st_replay")
    val part = PartitionSpec.Auto("ts", "day", Some("pt"))
    val ref = TableRef("default.st_replay")
    val mk = (h: Int, id: Long) => (java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:00:00"), id)
    val rows = Seq(mk(6, 1L), mk(18, 2L)).toDF("ts", "v")
    graft.mat.Materializer.table(spark, ref,
      graft.exec.AtomicWriter.withPartitionCols(rows.limit(0), part), part)
    val tmp = java.nio.file.Files.createTempDirectory("st_replay_src")
    rows.filter($"v" === 1L).write.parquet(tmp.toString + "/f1")
    rows.filter($"v" === 2L).write.parquet(tmp.toString + "/f2")
    val ckpt = java.nio.file.Files.createTempDirectory("st_replay_ckpt")
    def stream() = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", 1).parquet(tmp.toString + "/f*")
    Streaming.runToCompletion(
      Streaming.microbatchStream(spark, stream(), ref, part, ckpt.toString))
    assert(spark.table(ref.render).select("v").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
    // crash between the batch's write and its checkpoint commit: drop the
    // LAST commit file — the restarted query re-delivers that batch. The
    // done-marker must skip the re-apply (the old overlap-union would have
    // written v=2's rows twice).
    val commits = new java.io.File(ckpt.toFile, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    assert(commits.last.delete())
    // the local FS keeps a .N.crc sidecar; a stale one makes the re-commit
    // rename fail, which is not the scenario under test
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    Streaming.runToCompletion(
      Streaming.microbatchStream(spark, stream(), ref, part, ckpt.toString))
    assert(spark.table(ref.render).select("v").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L), "replayed batch must not duplicate rows")
  }

  test("microbatch stream resumed with NEW files keeps prior batches' rows") {
    import graft.catalog.{PartitionSpec, TableRef}
    spark.sql("DROP TABLE IF EXISTS default.st_resume")
    val part = PartitionSpec.Auto("ts", "day", Some("pt"))
    val ref = TableRef("default.st_resume")
    val mk = (h: Int, id: Long) => (java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:00:00"), id)
    val rows = Seq(mk(6, 1L), mk(12, 2L), mk(18, 3L)).toDF("ts", "v")
    graft.mat.Materializer.table(spark, ref,
      graft.exec.AtomicWriter.withPartitionCols(rows.limit(0), part), part)
    val tmp = java.nio.file.Files.createTempDirectory("st_resume_src")
    rows.filter($"v" === 1L).write.parquet(tmp.toString + "/f1")
    val ckpt = java.nio.file.Files.createTempDirectory("st_resume_ckpt")
    def stream() = spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", 1).parquet(tmp.toString + "/f*")
    Streaming.runToCompletion(
      Streaming.microbatchStream(spark, stream(), ref, part, ckpt.toString))
    // a SECOND run over the same checkpoint with new files in the same day
    // partition: the touched set must be rebuilt from the done markers so
    // the new batches UNION with v=1 instead of overwriting it away
    rows.filter($"v" === 2L).write.parquet(tmp.toString + "/f2")
    rows.filter($"v" === 3L).write.parquet(tmp.toString + "/f3")
    Streaming.runToCompletion(
      Streaming.microbatchStream(spark, stream(), ref, part, ckpt.toString))
    assert(spark.table(ref.render).select("v").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L))
  }

  test("a wide micro-batch (> touchedCap partitions) avoids the driver key set and stays correct") {
    import graft.catalog.{PartitionSpec, TableRef}
    spark.sql("DROP TABLE IF EXISTS default.st_wide")
    val part = PartitionSpec.Auto("ts", "day", Some("pt"))
    val ref = TableRef("default.st_wide")
    val mk = (d: Int, h: Int, id: Long) =>
      (java.sql.Timestamp.valueOf(f"2024-03-$d%02d $h%02d:00:00"), id)
    val seed = Seq(mk(1, 6, 1L)).toDF("ts", "v")
    graft.mat.Materializer.table(spark, ref,
      graft.exec.AtomicWriter.withPartitionCols(seed.limit(0), part), part)
    val tmp = java.nio.file.Files.createTempDirectory("st_wide_src")
    seed.coalesce(1).write.parquet(tmp.toString + "/f1")
    val ckpt = java.nio.file.Files.createTempDirectory("st_wide_ckpt")
    def stream() = spark.readStream.schema(seed.schema)
      .option("maxFilesPerTrigger", 1).parquet(tmp.toString + "/f*")
    spark.conf.set("spark.graft.touchedPartitions.cap", "4")
    try {
      // batch 1: one partition -> normal (file-marker) path; written={day1}
      Streaming.runToCompletion(
        Streaming.microbatchStream(spark, stream(), ref, part, ckpt.toString))
      // batch 2: SIX day-partitions > cap=4 -> wide path; day1 overlaps the
      // written set, so v=1 must be unioned in, not erased
      val wide = (0 until 6).map(d => mk(d + 1, 12, 10L + d)).toDF("ts", "v")
      wide.coalesce(1).write.parquet(tmp.toString + "/f2")
      Streaming.runToCompletion(
        Streaming.microbatchStream(spark, stream(), ref, part, ckpt.toString))
      assert(spark.table(ref.render).select("v").as[Long].collect().sorted.toSeq
        == (Seq(1L) ++ (10L to 15L)))
      // the wide batch committed its marker as a text-file DIRECTORY —
      // proof the keys were written by executors, never driver-collected
      val state = new java.io.File(ckpt.toFile, "graft_touched")
      assert(state.listFiles().exists(f =>
        f.getName.startsWith("done-") && f.isDirectory))
      // resume over the same checkpoint: written set rebuilds from the dir
      // marker, so a new batch into day2 unions with v=11 instead of erasing
      Seq(mk(2, 18, 20L)).toDF("ts", "v").coalesce(1)
        .write.parquet(tmp.toString + "/f3")
      Streaming.runToCompletion(
        Streaming.microbatchStream(spark, stream(), ref, part, ckpt.toString))
      assert(spark.table(ref.render).select("v").as[Long].collect().sorted.toSeq
        == (Seq(1L) ++ (10L to 15L) ++ Seq(20L)))
    } finally spark.conf.unset("spark.graft.touchedPartitions.cap")
  }

  test("a cleanly-failed micro-batch does not poison the checkpoint") {
    import graft.catalog.{PartitionSpec, TableRef}
    spark.sql("DROP TABLE IF EXISTS default.st_cleanfail")
    val part = PartitionSpec.Auto("ts", "day", Some("pt"))
    val ref = TableRef("default.st_cleanfail")
    val rows = Seq((java.sql.Timestamp.valueOf("2024-03-01 06:00:00"), 1L))
      .toDF("ts", "v")
    val tmp = java.nio.file.Files.createTempDirectory("st_cf_src")
    rows.write.parquet(tmp.toString + "/f1")
    val ckpt = java.nio.file.Files.createTempDirectory("st_cf_ckpt")
    def stream() = spark.readStream.schema(rows.schema)
      .parquet(tmp.toString + "/f*")
    // target table does NOT exist: the first batch fails cleanly inside
    // foreachBatch (table not found) — transient from the stream's view
    intercept[Throwable] {
      Streaming.runToCompletion(
        Streaming.microbatchStream(spark, stream(), ref, part, ckpt.toString))
    }
    // fix the environment and restart over the SAME checkpoint: the batch
    // must re-run (no stale attempt-marker alarm) and apply cleanly
    graft.mat.Materializer.table(spark, ref,
      graft.exec.AtomicWriter.withPartitionCols(rows.limit(0), part), part)
    Streaming.runToCompletion(
      Streaming.microbatchStream(spark, stream(), ref, part, ckpt.toString))
    assert(spark.table(ref.render).select("v").as[Long].collect().toSeq
      == Seq(1L))
  }

  test("dedupIngestStream: store-backed dedup continues across a restart, replays are no-ops") {
    import graft.llm.{Dedup, DedupStore}
    val base = java.nio.file.Files.createTempDirectory("ingest_dedup").toString
    def slab(name: String, mtime: Long, rows: (Long, String)*): Unit = {
      val tmp = s"$base/stage_$name"
      rows.toSeq.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$base/src/$name.parquet")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime); ()
    }
    val hist = Seq((1L, "history one"), (2L, "history two")).toDF("doc_id", "text")
    val store = s"$base/store"
    DedupStore.appendFingerprints(spark, store, -1L, Dedup.fingerprintStore(hist))
    // slab 0: one copy of history (drop) + one new; slab 1: copy of the
    // slab-0 new doc (drop via the store) + one new
    slab("s0", 600000L, (10L, "History  One"), (11L, "brand new alpha"))
    slab("s1", 1200000L, (20L, "brand  new alpha"), (21L, "brand new beta"))
    def drain(ckpt: String): Unit = Streaming.runToCompletion(
      Streaming.dedupIngestStream(spark,
        spark.readStream
          .schema(hist.schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$base/src"),
        store, s"$base/out", ckpt))
    drain(s"$base/ckpt")
    def outRows() = spark.read.parquet(s"$base/out")
      .select($"doc_id", $"batch".cast("int")).as[(Long, Int)].collect().toSet
    assert(outRows() == Set((11L, 0), (21L, 1)))
    assert(DedupStore.committedBatches(spark, store) == Seq(-1L, 0L, 1L))
    val storeRows = DedupStore.readFingerprints(spark, store).count()
    assert(storeRows == 4) // 2 history + alpha + beta
    // RESTART with the SAME checkpoint after new data lands: only the new
    // slab processes (batch 2); earlier batches are not re-read
    slab("s2", 1800000L, (30L, "brand new beta "), (31L, "brand new gamma"))
    drain(s"$base/ckpt")
    assert(outRows() == Set((11L, 0), (21L, 1), (31L, 2)))
    assert(DedupStore.committedBatches(spark, store) == Seq(-1L, 0L, 1L, 2L))
    // full REPLAY with a fresh checkpoint after a compaction: the markers
    // outlive the fold and skip every batch
    val fold = DedupStore.compact(spark, store)
    drain(s"$base/ckpt_replay")
    assert(outRows() == Set((11L, 0), (21L, 1), (31L, 2)))
    assert(DedupStore.readFingerprints(spark, store).count() == storeRows + 1)
    assert(DedupStore.committedBatches(spark, store) == Seq(-1L, 0L, 1L, 2L, fold))
  }

  test("nearDupIngestStream: store-probed near-dups drop, survivors sign the store, replays are no-ops") {
    import graft.llm.{Dedup, DedupStore}
    val base = java.nio.file.Files.createTempDirectory("ingest_nd").toString
    def slab(name: String, mtime: Long, rows: (Long, String)*): Unit = {
      val tmp = s"$base/stage_$name"
      rows.toSeq.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$base/src/$name.parquet")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime); ()
    }
    // 100-token docs: a one-token append keeps shingle Jaccard ≈ 0.95,
    // far above the 0.8 threshold for ANY deterministic MinHash draw
    def doc(prefix: String): String =
      (1 to 100).map(i => s"$prefix$i").mkString(" ")
    val hist = Seq((1L, doc("ha")), (2L, doc("hb"))).toDF("doc_id", "text")
    val store = s"$base/store"
    DedupStore.appendNearDupSigs(spark, store, -1L, Dedup.nearDupStore(hist)._2)
    // slab 0: near-dup of history (drop) + novel (keep); slab 1: near-dup
    // of the slab-0 SURVIVOR — catchable only via the segment slab 0
    // appended — (drop) + novel (keep)
    slab("s0", 600000L, (10L, doc("ha") + " tail"), (11L, doc("na")))
    slab("s1", 1200000L, (20L, doc("na") + " x"), (21L, doc("nb")))
    def drain(ckpt: String): Unit = Streaming.runToCompletion(
      Streaming.nearDupIngestStream(spark,
        spark.readStream
          .schema(hist.schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$base/src"),
        store, s"$base/out", ckpt))
    drain(s"$base/ckpt")
    def outRows() = spark.read.parquet(s"$base/out")
      .select($"doc_id", $"batch".cast("int")).as[(Long, Int)].collect().toSet
    assert(outRows() == Set((11L, 0), (21L, 1)))
    assert(DedupStore.committedBatches(spark, store) == Seq(-1L, 0L, 1L))
    // store holds exactly history + the two survivors' signatures
    assert(DedupStore.readNearDup(spark, store)._2.count() == 4)
    // full REPLAY with a fresh checkpoint after a compaction: the markers
    // outlive the fold and skip every batch
    val fold = DedupStore.compact(spark, store)
    drain(s"$base/ckpt_replay")
    assert(outRows() == Set((11L, 0), (21L, 1)))
    assert(DedupStore.readNearDup(spark, store)._2.count() == 4)
    assert(DedupStore.committedBatches(spark, store) == Seq(-1L, 0L, 1L, fold))
  }

  test("semanticIngestStream: store-probed embedding near-dups drop, survivors' vectors sign the store, replays are no-ops") {
    import graft.llm.{DedupStore, Similarity}
    val base = java.nio.file.Files.createTempDirectory("ingest_sem").toString
    val dim = 8
    val ha = Seq(1.0, 0.2, -0.5, 0.8, 0.1, -0.3, 0.6, 0.4)
    val na = Seq(0.1, -0.9, 0.4, 0.3, -0.6, 0.7, 0.2, -0.5)
    val nb = Seq(-0.4, 0.3, 0.9, -0.1, 0.2, -0.7, 0.5, 0.6)
    def slab(name: String, mtime: Long, rows: (Long, Seq[Double])*): Unit = {
      val tmp = s"$base/stage_$name"
      rows.toSeq.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$base/src/$name.parquet")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime); ()
    }
    val hist = Seq((1L, ha)).toDF("vec_id", "embedding")
    val store = s"$base/store"
    DedupStore.appendVectors(spark, store, -1L,
      Similarity.embeddingStore(hist, dim)._2)
    // slab 0: near-copy of history (drop) + novel (keep); slab 1:
    // near-copy of the slab-0 SURVIVOR — catchable only via the vectors
    // slab 0 appended — (drop) + novel (keep)
    slab("s0", 600000L, (10L, ha.map(_ + 0.001)), (11L, na))
    slab("s1", 1200000L, (20L, na.map(_ + 0.001)), (21L, nb))
    def drain(ckpt: String): Unit = Streaming.runToCompletion(
      Streaming.semanticIngestStream(spark,
        spark.readStream
          .schema(hist.schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$base/src"),
        store, s"$base/out", ckpt, dim = dim, bits = 8))
    drain(s"$base/ckpt")
    def outRows() = spark.read.parquet(s"$base/out")
      .select($"vec_id", $"batch".cast("int")).as[(Long, Int)].collect().toSet
    assert(outRows() == Set((11L, 0), (21L, 1)))
    assert(DedupStore.committedBatches(spark, store) == Seq(-1L, 0L, 1L))
    // store holds exactly history + the two survivors' vectors
    assert(DedupStore.readVectors(spark, store, dim)._2.count() == 3)
    // full REPLAY with a fresh checkpoint: markers skip every batch
    drain(s"$base/ckpt_replay")
    assert(outRows() == Set((11L, 0), (21L, 1)))
    assert(DedupStore.readVectors(spark, store, dim)._2.count() == 3)
  }

  test("stream-static enrichment join: broadcast, stateless, equals the batch twin") {
    val ev = Tables.t(spark, dir, "events").filter($"user_id" <= 60)
      .select($"event_id", $"user_id", $"event_type", $"value")
    val dim = Tables.t(spark, dir, "customer")
      .select($"c_custkey", $"c_mktsegment")
    val tmp = java.nio.file.Files.createTempDirectory("ssj_src")
    ev.write.mode("overwrite").parquet(tmp.toString)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Any]]()
    val joined = Streaming.parquetStream(spark, tmp.toString)
      .join(broadcast(dim), $"user_id" === $"c_custkey")
      .select($"event_id", $"c_mktsegment")
    val q = joined.writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => out.add(r.toSeq)); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // the foreachBatch df is an ExistingRDD over already-joined rows; the
    // micro-batch's real physical plan lives on the stream's lastExecution
    val planStr = {
      Streaming.runToCompletion(q)
      q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
    }
    // the dim must broadcast (stream side never shuffles) and the join
    // must be STATELESS — no state store, no watermark machinery
    assert(planStr.contains("BroadcastHashJoin"), planStr)
    assert(!planStr.contains("StateStore"), s"stateless join expected:\n$planStr")
    val want = ev.join(dim, $"user_id" === $"c_custkey")
      .select($"event_id", $"c_mktsegment").collect().map(_.toSeq).toSet
    assert(want.nonEmpty)
    assert(out.toArray(Array.empty[Seq[Any]]).toSet == want)
  }

  test("the shared replay gate: a ledger-less sink fails it, dedupIngestStream passes it") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
    import graft.llm.{Dedup, DedupStore}
    import MatQueries.{ingestOut, landSlabs, nDiff, replayDrains}
    // slab 1 repeats slab 0's "a x" under a new id
    val slabs = Seq(Seq((10L, "a x"), (11L, "b y")),
      Seq((20L, "a x"), (21L, "c z"))).map(_.toDF("doc_id", "text"))
    def replayDiff(base: String, firstRows: Long = 3)(
        start: (DataFrame, String) => StreamingQuery): Long = {
      val schema = landSlabs(base, slabs)
      val (out1, out2) = replayDrains(spark, base, schema)(start)(
        ingestOut(spark, base, "doc_id").localCheckpoint())(
        ingestOut(spark, base, "doc_id"))
      assert(out1.count() == firstRows)
      nDiff(out1, out2, Seq("doc_id", "batch")).head().getLong(0)
    }
    // the store-backed streams' shape WITHOUT their ledger: every delivery,
    // a replay too, drops the texts already seen, overwrites its batch
    // dir with the rest and appends them to the seen set
    val bare = MatQueries.tempDir("replay_bare")
    val seen = s"$bare/seen"
    val nBare = replayDiff(bare) { (src, ckpt) =>
      src.writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val kept = (if (new java.io.File(seen).exists())
              batch.join(spark.read.parquet(seen), Seq("text"), "left_anti")
            else batch.dropDuplicates("text")).localCheckpoint()
          kept.write.mode("overwrite").parquet(s"$bare/out/batch=$id")
          kept.select($"text").write.mode("append").parquet(seen); ()
        }
        .start()
    }
    // the replay re-delivers both batches against a seen set holding
    // every text: both batch dirs come back empty
    assert(nBare == 3)
    // a plain appending sink: the replay re-appends all 4 rows under the
    // same (doc_id, batch) keys, so every key's count goes 1 -> 2
    val appending = MatQueries.tempDir("replay_append")
    assert(replayDiff(appending, firstRows = 4) { (src, ckpt) =>
      src.writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.write.mode("append").parquet(s"$appending/out/batch=$id"); ()
        }
        .start()
    } == 4)
    val base = MatQueries.tempDir("replay_dedup")
    val store = s"$base/store"
    DedupStore.appendFingerprints(spark, store, -1L,
      Dedup.fingerprintStore(Seq((1L, "history")).toDF("doc_id", "text")))
    assert(replayDiff(base)(
      Streaming.dedupIngestStream(spark, _, store, s"$base/out", _)) == 0)
  }
}
