package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Tables, Verify}
import graft.llm.{Packing, TextOps}

/** Scale-shape probe for the two round-6 fixes, at 10× the bench corpus
  * (~500 k docs, built in-memory from sf0.1 with a per-copy alphabet
  * rotation; `AmplifyTestdata` builds the same 10× scale on disk):
  *
  *  1. PACKING fan-out: run `packStreaming` at shardHexWidth 1/2/3 and
  *     report the MAX per-shard row count — the size of the largest
  *     single-task window sort. Each +1 width must shrink it ~16×
  *     (that is the whole point of the parameter: at 100 TB, width 3–4
  *     keeps the per-task sort in the low-GB range).
  *
  *  2. QUALITY TOP-Q skew: on a corpus forced to 90% one language, compare
  *     the old `row_number over (partition by lang)` form against
  *     `TextOps.qualityTopQ` — wall-clock plus the max rows any single
  *     window task sorts (old: the 90% stratum; new: the largest
  *     (lang, score) tie group).
  */
object PackScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = "/root/testdata/sf0.1"
    val copies = 10
    val spark = Verify.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    spark.range(10000000L).selectExpr("sum(id)").collect()

    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val base = Tables.t(spark, dir, "documents")
    val nDocs = base.count()
    val docs = (0 until copies).map { i =>
      val rot = alpha.drop(i % 26) + alpha.take(i % 26)
      base.select((col("doc_id") + lit(i * nDocs)).as("doc_id"),
        translate(lower(col("text")), alpha, rot).as("text"), col("lang"))
    }.reduce(_ unionByName _).localCheckpoint()
    println(s"[packscale] corpus: ${docs.count()} docs")

    // ---- 1. packing fan-out vs shardHexWidth
    val toks = docs.select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      .localCheckpoint()
    for (w <- 1 to 3) {
      val t0 = System.nanoTime()
      val shards = Packing.packStreaming(toks, col("doc_id"), col("n_tokens"),
          window = 2048, shardHexWidth = w)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("rows"), max(col("bin")).as("bins"))
        .agg(count(lit(1)).as("n_shards"), max(col("rows")).as("max_shard_rows"),
          avg(col("rows")).cast("long").as("avg_shard_rows"))
        .collect()(0)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[packscale] width=$w  shards=${shards.getLong(0)}%5d  " +
        f"max_shard_rows=${shards.getLong(1)}%7d  " +
        f"avg=${shards.getLong(2)}%7d  $dt%5.1f s")
    }

    // ---- 2. quality top-q on a 90%-one-language corpus
    val skewed = docs.select(col("doc_id"),
        when(col("doc_id") % 10 < 9, lit("en")).otherwise(col("lang")).as("lang"),
        col("text"))
      .withColumn("quality", TextOps.qualityScore(col("text")))
      .select(col("doc_id"), col("lang"), col("quality"))
      .localCheckpoint()
    val biggestLang = skewed.groupBy(col("lang")).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    val biggestTie = skewed.groupBy(col("lang"), col("quality")).count()
      .agg(max(col("count"))).collect()(0).getLong(0)

    def time(name: String, df: => DataFrame): Long = {
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"[packscale] $name%-12s rows=$n%7d  " +
        f"${(System.nanoTime() - t0) / 1e9}%5.1f s")
      n
    }
    val nOld = time("old row_number", {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("quality").desc, col("doc_id"))
      skewed.withColumn("rk", row_number().over(w).cast("bigint"))
        .withColumn("n_lang", count(lit(1)).over(Window.partitionBy(col("lang"))))
        .filter(col("rk") <= ceil(col("n_lang") * 0.25))
    })
    val nNew = time("qualityTopQ", TextOps.qualityTopQ(
      skewed, col("lang"), col("quality"), col("doc_id"), q = 0.25))
    val nBkt = time("topQ+bucket", TextOps.qualityTopQ(
      skewed, col("lang"), col("quality"), col("doc_id"), q = 0.25,
      tieBucket = Some(floor(col("doc_id") / 8192))))
    val biggestCell = skewed
      .groupBy(col("lang"), col("quality"), floor(col("doc_id") / 8192)).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    println(f"[packscale] identical=${nOld == nNew && nOld == nBkt}  " +
      f"max_window_task_rows: old=$biggestLang (the 90%% stratum), " +
      f"tie-group=$biggestTie (modal score), bucketed=$biggestCell")
    spark.stop()
  }
}
