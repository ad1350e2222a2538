package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField}
import graft.llm.{IndexStore, Similarity}

/** The compiled quantizer kernels ([[graft.functions.CentroidTopN]],
  * [[graft.functions.PqEncode]], [[graft.functions.PqAdcTable]]): one input
  * rule for NULL and wrong-dimension vectors at every nlist, and plans
  * whose size does not grow with the quantizer. */
class QuantizerKernelSpec extends SparkSpec {
  import spark.implicits._

  private val inv = new java.util.concurrent.atomic.AtomicLong()
  private def freshRoot(): String = {
    val p = java.nio.file.Files.createTempDirectory("qkernel")
    s"$p/store${inv.incrementAndGet()}"
  }

  private def gaussians(seed: Int, n: Int, dim: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  // 20 well-formed 8-dim vectors; NULL, 6-dim and 10-dim rows ride along
  private val good: Seq[(Long, Seq[Double])] =
    gaussians(5, 20, 8).zipWithIndex.map { case (v, i) => (i.toLong, v) }
  private val nullRow = (20L, null: Seq[Double])
  private val wrongDims = Seq((21L, Seq.fill(6)(0.5)) -> 6,
    (22L, Seq.fill(10)(0.5)) -> 10)
  private def frame(extra: (Long, Seq[Double])*): DataFrame =
    (good ++ extra).toDF("vec_id", "embedding")

  /** `f` must fail, and the failure must name both dimensions. */
  private def failsNamingDims(got: Int)(f: => Any): Unit = {
    val e = intercept[Exception](f)
    val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(msg.contains(s"dimension $got") && msg.contains("dimension 8"),
      s"error does not name both dimensions: $msg")
  }

  for (nlist <- Seq(16, 128)) {
    test(s"NULL vectors get no centroid; wrong dimensions fail loudly; schemas hold (nlist $nlist)") {
      val cents = gaussians(nlist, nlist, 8).zipWithIndex
        .map { case (v, i) => (i, v) }
      def top1(df: DataFrame): Seq[Long] = Similarity.assignToCentroids(df,
        cents, "vec_id", "embedding").select($"corpus_id").as[Long]
        .collect().toSeq.sorted
      def top2(df: DataFrame): Seq[Long] = Similarity.assignTopCentroids(df,
        cents, 2, "vec_id", "embedding").select($"corpus_id").as[Long]
        .collect().toSeq.sorted
      val ids = good.map(_._1)
      // a NULL vector yields no assignment row, exactly as if absent
      assert(top1(frame(nullRow)) == ids)
      assert(top2(frame(nullRow)) == ids.flatMap(i => Seq(i, i)))
      for ((row, d) <- wrongDims) {
        failsNamingDims(d)(top1(frame(row)))
        failsNamingDims(d)(top2(frame(row)))
      }
      // output schemas are those of the literal path, nullability included:
      // stored segments written before and after the kernels must union
      // byte-compatibly (the parquet footer records every flag)
      val src = frame().schema
      def assignSchema(centroidNullable: Boolean) = Seq(
        StructField("centroid_id", IntegerType, centroidNullable),
        src("vec_id").copy(name = "corpus_id"),
        src("embedding").copy(name = "c_vec"))
      assert(Similarity.assignToCentroids(frame(), cents, "vec_id",
        "embedding").schema.fields.toSeq == assignSchema(true))
      assert(Similarity.assignTopCentroids(frame(), cents, 2, "vec_id",
        "embedding").schema.fields.toSeq == assignSchema(false))
      // the store: the NULL row is never indexed, and a batch holding a
      // wrong-dimension row fails without committing a segment
      val root = freshRoot()
      IndexStore.train(spark, root, frame(), dim = 8, nlist = nlist, m = 2,
        codebookSize = 4)
      val encoded = Similarity.encodeResidual(frame(),
        IndexStore.loadQuantizer(spark, root)).schema
      assert(encoded("centroid_id") ==
        StructField("centroid_id", IntegerType, nullable = true))
      assert(encoded("codes") == StructField("codes",
        ArrayType(IntegerType, containsNull = true), nullable = false))
      assert(IndexStore.appendCodes(spark, root, 0L, frame(nullRow)))
      def indexed: Seq[Long] = IndexStore.readCodes(spark, root)
        .select($"corpus_id").as[Long].collect().toSeq.sorted
      assert(indexed == ids)
      for (((row, d), b) <- wrongDims.zipWithIndex)
        failsNamingDims(d)(IndexStore.appendCodes(spark, root, 1L + b,
          frame(row)))
      assert(indexed == ids)
    }
  }

  test("encode and search plans have the same expression count at any quantizer size") {
    // a file-backed corpus: over a local relation the optimizer would fold
    // the whole encode into data and leave no expressions to count
    val path = java.nio.file.Files.createTempDirectory("qkernel-emb").toString
    gaussians(7, 500, 64).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding").write.mode("overwrite").parquet(path)
    val emb = spark.read.parquet(path)
    val q = emb.filter($"vec_id" < 5)
    def exprNodes(df: DataFrame): Int = df.queryExecution.optimizedPlan
      .collectWithSubqueries { case p =>
        p.expressions.map(_.collect { case e => e }.size).sum
      }.sum
    // (nlist, m·codebookSize) = (16, 8·16) and (64, 8·64)
    val counts = Seq(16, 64).map { size =>
      val root = freshRoot()
      val rq = IndexStore.train(spark, root, emb, dim = 64, nlist = size,
        m = 8, codebookSize = size)
      assert(IndexStore.appendCodes(spark, root, 0L, emb))
      (exprNodes(Similarity.encodeResidual(emb, rq)),
        exprNodes(IndexStore.searchTopK(spark, root, emb, q, k = 5)))
    }
    info(s"(encode, search) expression nodes: ${counts.head}")
    assert(counts(0) == counts(1),
      s"(encode, search) expression nodes vary with the quantizer: $counts")
  }
}
