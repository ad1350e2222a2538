package graft.examples

import org.apache.spark.sql.functions._
import graft.{MatQueries, Tables, Verify}
import graft.llm.{Dedup, DedupStore}
import graft.streaming.Streaming

/** Scale-shape probe for the streaming NEAR-dup ingest loop
  * ([[graft.streaming.Streaming.nearDupIngestStream]]) — the MinHash
  * sibling of the retired exact-dedup StoreIngestProbe (`git show
  * b0a1153:src/main/scala/graft/examples/StoreIngestProbe.scala`; perfbench
  * `ingest_cycles` now measures that loop): seed the signature store from a
  * history corpus, then drain ten successive slabs (fresh novel token
  * streams + planted near-dups of history and of the previous slab's
  * fresh docs) through the SAME checkpoint, timing each drain. The claim
  * under test: per-batch cost is ∝ batch — the store grows a (sid, sig)
  * segment per batch and the probe touches only matching band buckets,
  * so batch k must NOT cost more than batch 1 (a shape that re-signed or
  * re-scanned history would grow in k). Novel token streams keep the
  * kept/dropped accounting deterministic at any scale. */
object NdStoreIngestProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/graft_sf1"
    val spark = Verify.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    spark.range(10000000L).selectExpr("sum(id)").collect()
    val ids = Tables.t(spark, dir, "documents")
      .select(col("doc_id")).localCheckpoint()
    val n = ids.count()
    def novel(idsDf: org.apache.spark.sql.DataFrame, shift: Long,
        prefix: String, suffix: String = "") =
      idsDf.select(col("doc_id").as("__orig"),
          (col("doc_id") + shift).as("doc_id"))
        .select(col("doc_id"),
          concat(array_join(transform(sequence(lit(1), lit(40)),
            i => concat(lit(prefix), col("__orig"), lit("x"), i)), " "),
            lit(suffix)).as("text"))
    val histN = n * 6 / 10
    val histIds = ids.filter(col("doc_id") < histN)
    val hist = novel(histIds, 0L, "h").localCheckpoint()
    val base = java.nio.file.Files.createTempDirectory("nd_ingest").toString
    val store = s"$base/store"
    val t0 = System.nanoTime()
    DedupStore.appendNearDupSigs(spark, store, -1L, Dedup.nearDupStore(hist)._2)
    spark.catalog.clearCache()
    println(f"[ndingest] corpus $n docs, history $histN, seed " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    val batches = 10
    val slabRows = (n - histN) / batches
    for (k <- 0 until batches) {
      val lo = histN + k * slabRows
      val freshIds = ids.filter(col("doc_id") >= lo &&
        col("doc_id") < lo + slabRows)
      val fresh = novel(freshIds, 0L, "f")
      // near-dups of history (every 3·batches-th) and of slab k−1's fresh
      // docs — the latter catchable only through the appended segments
      val histDups = novel(histIds.filter(col("doc_id") % (3 * batches) === k),
        (k + 1) * 10L * n, "h", " tail")
      val prevDups =
        if (k == 0) fresh.limit(0)
        else novel(ids.filter(col("doc_id") >= lo - slabRows &&
            col("doc_id") < lo - slabRows + slabRows / 4),
          (k + 1) * 10L * n + n, "f", " tail")
      val slab = fresh.unionByName(histDups).unionByName(prevDups)
        .localCheckpoint()
      val slabN = slab.count()
      val schema = MatQueries.landSlabs(base, Seq(slab), first = k)
      val tb = System.nanoTime()
      MatQueries.drainSlabs(spark, base, schema, s"$base/ckpt")(
        Streaming.nearDupIngestStream(spark, _, store, s"$base/out", _))
      val dt = (System.nanoTime() - tb) / 1e9
      spark.catalog.clearCache() // incrementalNearDup persists batch sigs
      val storeRows = DedupStore.readNearDup(spark, store)._2.count()
      val kept = spark.read.parquet(s"$base/out/batch=$k").count()
      println(f"[ndingest] batch $k%2d: slab=$slabN%6d kept=$kept%6d " +
        f"store=$storeRows%7d  $dt%5.1f s")
    }
    spark.stop()
  }
}
