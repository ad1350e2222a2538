package graftbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files => NioFiles, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, DedupStore, IndexStore, TextOps}
import graft.streaming.Streaming

/** Document and embedding batches landing in input directories. Each
  * operation ingests one batch: streaming exact dedup into a DedupStore,
  * text analysis and near-duplicate detection, streaming embedding ingest
  * into an IndexStore, and one top-k search for a fixed query set; the
  * stores are compacted every `CompactEvery` batches (batch 0 and every
  * batch i with i % CompactEvery == 1). Operation i ingests batch i. */
final class CorpusIngest(ctx: Ctx) extends Workload {
  import ctx._
  private val dedupRoot = s"$work/store/dedup"
  private val indexRoot = s"$work/store/index"
  private val docsIn = s"$work/landing/docs"
  private val embIn = s"$work/landing/emb"
  private val keptDir = s"$work/out/kept"
  private val analyzedDir = s"$work/out/analyzed"
  private val Dim = 64
  private val K = 10
  private val Rerank = 8
  private val CompactEvery = 2
  private val docBatches = new File(s"$inputs/docs").listFiles().map(_.getPath).sorted
  private val embBatches = new File(s"$inputs/emb").listFiles().map(_.getPath).sorted
  private lazy val queries = spark.read.parquet(s"$inputs/queries.parquet")

  private var seen = Map.empty[String, Long]
  private val pairsOut = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val searchOut = mutable.ArrayBuffer.empty[(Int, Long, Long, Int)]
  private val ccRounds = mutable.ArrayBuffer.empty[Int]
  private val segments = mutable.ArrayBuffer.empty[Int]

  override def period: Int = CompactEvery
  def maxOps: Int = docBatches.length

  def setup(): Unit = {
    val history = spark.read.parquet(s"$inputs/docs_history.parquet")
    DedupStore.appendFingerprints(spark, dedupRoot, -1L, Dedup.fingerprintStore(history))
    val base = spark.read.parquet(s"$inputs/emb_base.parquet")
    IndexStore.train(spark, indexRoot, base, Dim)
    IndexStore.appendCodes(spark, indexRoot, -1L, base)
    seen = storeFiles
  }

  private def storeFiles = Files.under(s"$work/store") ++ Files.under(s"$work/out")

  private def land(src: String, dir: String): Unit = {
    new File(dir).mkdirs()
    val f = new File(src)
    val tmp = new File(dir, s".${f.getName}.tmp")
    NioFiles.copy(f.toPath, tmp.toPath, StandardCopyOption.REPLACE_EXISTING)
    NioFiles.move(tmp.toPath, new File(dir, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  private def runStream(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    Streaming.runToCompletion(q)
    q.exception.foreach(e => throw e)
  }

  def op(i: Int): Unit = {
    land(docBatches(i), docsIn)
    land(embBatches(i), embIn)
    val docs = spark.read.parquet(docBatches(i))
    ingest(i, docs)
    val corpus = spark.read.parquet(s"$inputs/emb_base.parquet")
      .unionByName(spark.read.parquet(embIn))
    tracer.span("llm.store.search")(
      IndexStore.searchTopK(spark, indexRoot, corpus, queries, K, rerank = Rerank).collect())
      .foreach(r => searchOut += ((i, r.getAs[Number]("query_id").longValue,
        r.getAs[Number]("corpus_id").longValue, r.getAs[Number]("rank").intValue)))
    if (i == 0 || i % CompactEvery == 1) tracer.span("llm.store.compact") {
      DedupStore.compact(spark, dedupRoot)
      IndexStore.compactCodes(spark, indexRoot)
    }
  }

  /** Both streaming ingests and the batch's text analysis and
    * near-duplicate detection. */
  private def ingest(i: Int, docs: DataFrame): Unit = {
    tracer.span("streaming.dedup_ingest")(runStream(
      Streaming.dedupIngestStream(spark, Streaming.parquetStream(spark, docsIn),
        dedupRoot, keptDir, s"$work/checkpoints/dedup")))
    tracer.span("llm.text.analyze")(
      TextOps.analyze(docs).write.mode("overwrite").parquet(s"$analyzedDir/batch=$i"))
    tracer.span("llm.text.substring_dup")(
      TextOps.substringDupSignal(docs, hashedGrams = true)
        .agg(sum(col("keep").cast("int")), count(lit(1))).collect())
    val pairs = tracer.span("llm.dedup.minhash_pairs")(
      Dedup.minhashNearDupPairs(docs).select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))))
    pairs.foreach { case (a, b) => pairsOut += ((i, a, b)) }
    if (pairs.nonEmpty) tracer.span("llm.dedup.connected_components") {
      import spark.implicits._
      val (cc, rounds) = Dedup.connectedComponentsWithRounds(
        pairs.toSeq.toDF("id_a", "id_b"))
      cc.collect()
      if (i >= warmup) ccRounds += rounds
    }
    tracer.span("streaming.index_ingest")(runStream(
      Streaming.indexIngestStream(spark, Streaming.parquetStream(spark, embIn),
        indexRoot, s"$work/checkpoints/index")))
  }

  override def afterOp(i: Int, rec: OpRec): Unit = {
    val now = storeFiles
    rec.bytesWritten = Files.newBytes(seen, now)
    rec.inputBytes = new File(docBatches(i)).length() + new File(embBatches(i)).length()
    seen = now
    if (tracer.enabled && i >= warmup)
      segments += DedupStore.committedBatches(spark, s"$indexRoot/codes").size
  }

  def finish(lastOp: Int, plant: Boolean): Map[String, Any] = {
    if (plant) {
      // a document kept twice: the first kept row, written again as its own batch
      spark.read.parquet(s"$keptDir/batch=0").limit(1).write.parquet(s"$keptDir/batch=999999")
    }
    def dump(path: String, rows: Iterable[Product]): Unit = {
      val pw = new PrintWriter(new File(path))
      try rows.foreach(r => pw.println(r.productIterator.mkString(","))) finally pw.close()
    }
    dump(s"$work/export_pairs.csv", pairsOut)
    dump(s"$work/export_search.csv", searchOut)
    Map("batches" -> (lastOp + 1), "k" -> K, "kept_dir" -> keptDir)
  }

  override def extras(ops: Int): Map[String, Double] = {
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map(
      "llm.dedup.cc_rounds" -> mean(ccRounds.map(_.toDouble).toSeq),
      "llm.dedup.minhash_pairs.pairs_out" ->
        pairsOut.count(_._1 >= warmup).toDouble / math.max(1, ops),
      "llm.store.segments" -> mean(segments.map(_.toDouble).toSeq))
  }
}
