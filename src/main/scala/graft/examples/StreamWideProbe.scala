package graft.examples

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import graft.{Tables, Verify}
import graft.catalog.{PartitionSpec, TableRef}
import graft.streaming.Streaming

/** Wide-micro-batch rehearsal for the streaming overwrite path: batches
  * touching 5× / 10× / 20× the touched-partition cap (the hourly×tenant
  * backfill shape). What it proves:
  *
  *  - the >cap branch engages (the done marker is a text-file DIRECTORY
  *    written by executors, not a driver-collected key file) — no driver
  *    key-set, no isin tree, at any width;
  *  - per-partition commit cost stays flat as the batch widens (the swap
  *    is directory renames plus one batched ADD PARTITION — metadata-
  *    linear, never data);
  *  - replay + restart state stays correct at width (the second run's
  *    batches are skipped via markers, content unchanged).
  */
object StreamWideProbe {
  def main(args: Array[String]): Unit = {
    val spark = Verify.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    spark.range(10000000L).selectExpr("sum(id)").collect()
    val cap = 40
    spark.conf.set("spark.graft.touchedPartitions.cap", cap.toString)
    val fs = new HPath("/tmp").getFileSystem(spark.sessionState.newHadoopConf())

    for (mult <- Seq(5, 10, 20)) {
      val nPart = cap * mult
      val ref = TableRef(Some("default"), s"swp_t_$mult")
      val part = PartitionSpec.Static(Seq("pt" -> "string"))
      val srcDir = s"/tmp/swp_src_$mult"
      val ckpt = s"/tmp/swp_ckpt_$mult"
      fs.delete(new HPath(srcDir), true); fs.delete(new HPath(ckpt), true)
      spark.sql(s"DROP TABLE IF EXISTS ${ref.render}")
      // target pre-populated on HALF the partitions (so the wide overlap
      // union path runs, not just fresh inserts)
      val init = spark.range(0, nPart / 2)
        .select(col("id"), lit("old").as("v"),
          concat(lit("p"), col("id") % (nPart / 2)).as("pt"))
      graft.mat.Materializer.table(spark, ref, init, part)
      // source: one file per half, each half touching ALL nPart partitions
      // two files written as two commits, each touching ALL nPart
      // partitions: with one file per trigger, batch 2 overlaps every
      // partition batch 1 wrote — the WIDE overlap union (target ⋉
      // written-keys join) runs with a full written set
      val all = spark.range(0, nPart * 4L)
        .select(col("id"), lit("new").as("v"),
          concat(lit("p"), (col("id") / 2).cast("long") % nPart).as("pt"),
          (col("id") % 2).as("half"))
      all.filter(col("half") === 0).drop("half")
        .coalesce(1).write.parquet(srcDir)
      all.filter(col("half") === 1).drop("half")
        .coalesce(1).write.mode("append").parquet(srcDir)
      val schema = spark.read.parquet(srcDir).schema
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)

      val t0 = System.nanoTime()
      Streaming.runToCompletion(
        Streaming.microbatchStream(spark, src, ref, part, ckpt))
      val dt = (System.nanoTime() - t0) / 1e9
      // evidence of the no-driver-key-set path: every non-empty done
      // marker is a DIRECTORY of executor-written part files
      val markers = fs.listStatus(new HPath(ckpt, "graft_touched"))
        .filter(_.getPath.getName.startsWith("done-"))
      val dirMarkers = markers.count(_.isDirectory)
      val rows = spark.table(ref.render).count()
      val parts = spark.sql(s"SHOW PARTITIONS ${ref.render}").count()
      println(f"[streamwide] ${mult}x cap ($nPart%4d partitions): " +
        f"$dt%6.1f s  ${dt * 1000 / nPart}%6.1f ms/partition  " +
        f"markers=${markers.length} (dirs=$dirMarkers)  rows=$rows parts=$parts")
      require(dirMarkers >= 2,
        "both data batches must take the wide (executor-written-marker) " +
          s"branch, got $dirMarkers dirs of ${markers.length} markers")
      require(parts == nPart && rows == nPart * 4L,
        s"content wrong: $parts parts, $rows rows")

      // replay: a fresh identical stream run must skip every batch
      val t1 = System.nanoTime()
      Streaming.runToCompletion(
        Streaming.microbatchStream(spark, src, ref, part, ckpt))
      val dt2 = (System.nanoTime() - t1) / 1e9
      val rows2 = spark.table(ref.render).count()
      println(f"[streamwide] ${mult}x replay: $dt2%6.1f s  rows=$rows2 " +
        s"(unchanged=${rows2 == rows})")
      require(rows2 == rows)
    }
    spark.stop()
  }
}
