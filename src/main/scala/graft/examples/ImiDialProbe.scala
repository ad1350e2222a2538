package graft.examples

import org.apache.spark.sql.functions._
import graft.{Tables, Verify}
import graft.llm.Similarity

/** Production-dial sweep for the IMI two-level quantizer (s12's scale
  * claim, VERDICT r9 #5): at nlist = kA·kB ∈ {4096, 16384, 65536} —
  * the dial range a 10⁶–10⁸-vector corpus wants — measure the per-row
  * ASSIGNMENT cost of flat centroid assignment (the compiled
  * [[graft.functions.CentroidTopN]] kernel, nlist·dim multiplies/row)
  * against the IMI decomposition ((kA+kB)·dim/2 multiplies + kA·kB scalar
  * combines/row) on the sf1 embeddings corpus. Codebooks are synthetic
  * (real vectors plus a small per-index offset): assignment cost
  * is independent of centroid quality, and a driver-local k-means fit at
  * nlist 65536 is exactly the thing the IMI path exists to avoid (the
  * IMI fit is two k=√nlist half-fits — tractable at every swept dial).
  *
  * Second leg: END-TO-END imiTopK with a REAL fit at kA=kB=64 (nlist
  * 4096) on sf1, recall@10 against the exact brute-force baseline across
  * nprobe — the recall gate at a production cell count, not s12's small
  * test dials. */
object ImiDialProbe {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/tmp/graft_sf1"
    val spark = Verify.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    val emb = Tables.t(spark, dir, "embeddings").localCheckpoint()
    val nRows = emb.count()
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    println(s"[imidial] corpus: $nRows vectors, dim=$dim")

    val seeds = emb.orderBy(col("vec_id")).limit(512)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    def synth(n: Int, width: Int, drop: Int): Array[Array[Double]] =
      Array.tabulate(n) { i =>
        val b = seeds(i % seeds.length)
        Array.tabulate(width)(d => b(drop + d) + (i % 97) * 1e-4)
      }

    // ---- leg 1: assignment-cost crossover, flat vs IMI
    for (kHalf <- Seq(64, 128, 256)) {
      val nlist = kHalf * kHalf
      val cbA = synth(kHalf, dim / 2, 0)
      val cbB = synth(kHalf, dim / 2, dim / 2)
      val flatCentroids = synth(nlist, dim, 0).zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq
      def timed(what: String, f: => Long): Double = {
        f // warm-up (JIT + broadcast) outside the timing
        val t0 = System.nanoTime(); val out = f
        val dt = (System.nanoTime() - t0) / 1e9
        val thr = nRows.toDouble * nlist / dt / 1e6
        println(f"[imidial] nlist=$nlist%6d $what%-5s rows=$nRows out=$out " +
          f"$dt%7.2f s  $thr%9.1f Mscore/s")
        dt
      }
      val tImi = timed("imi", Similarity.imiAssignTop(
        emb, cbA, cbB, 1, "vec_id", "embedding").count())
      // flat assignment scores all nlist centroids per row
      val tFlat = timed("flat", Similarity.assignTopCentroids(
        emb, flatCentroids, 1, "vec_id", "embedding").count())
      println(f"[imidial] nlist=$nlist%6d speedup flat/imi = ${tFlat / tImi}%5.1f x")
    }

    // ---- leg 2: real fit at nlist 4096, recall@10 vs exact
    val queries = emb.filter(col("vec_id") % 2500 === 0).localCheckpoint()
    val nq = queries.count()
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select(col("query_id"), col("corpus_id")).localCheckpoint()
    val nExact = exact.count()
    println(s"[imidial] recall leg: $nq queries, $nExact exact pairs")
    for (nprobe <- Seq(8, 32, 64)) {
      val t0 = System.nanoTime()
      val approx = Similarity.imiTopK(spark, emb, queries, k = 10,
          kA = 64, kB = 64, nprobe = nprobe)
        .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
      val r = exact.join(approx, Seq("query_id", "corpus_id"), "left")
        .agg((sum(coalesce(col("hit"), lit(0))).cast("double")
          / count(lit(1))).as("recall"))
        .collect()(0).getDouble(0)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[imidial] kA=kB=64 nlist=4096 nprobe=$nprobe%3d " +
        f"recall@10=$r%.3f  $dt%6.1f s")
    }
    spark.stop()
  }
}
