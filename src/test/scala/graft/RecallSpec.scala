package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Similarity}

/** Recall bounds for the APPROXIMATE operators (driver gate checks them
  * rows-only — these specs pin their quality against the exact variants on
  * the deterministic sf0.001 testdata, so a regression in bucketing/probing
  * logic fails loudly instead of shipping silently-worse recall). */
class RecallSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def topkRecall(approx: DataFrame, exact: DataFrame): Double = {
    val a = approx.select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val e = exact.select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    a.intersect(e).size.toDouble / e.size
  }

  test("LSH top-k recall vs brute force; multi-table beats single-table") {
    val emb = Tables.t(spark, dir, "embeddings")
    val q = emb.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
    val single = Similarity.lshTopK(emb, q, k = 5, dim = 64, bits = 5,
      probeBits = 4, tables = 1)
    val multi = Similarity.lshTopK(emb, q, k = 5, dim = 64, bits = 5,
      probeBits = 4, tables = 4)
    val r1 = topkRecall(single, exact)
    val r4 = topkRecall(multi, exact)
    info(f"lsh topk recall: 1 table = $r1%.3f, 4 tables = $r4%.3f")
    assert(r4 >= 0.6, f"multi-table LSH recall $r4%.3f below bound")
    assert(r4 > r1, "extra tables should raise recall on unstructured data")
  }

  test("IVF top-k recall vs brute force") {
    val emb = Tables.t(spark, dir, "embeddings")
    val q = emb.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
    val approx = Similarity.ivfTopK(spark, emb, q, k = 5, nlist = 8, nprobe = 3)
    val r = topkRecall(approx, exact)
    info(f"ivf topk recall = $r%.3f")
    assert(r >= 0.5, f"IVF recall $r%.3f below bound")
  }

  test("IMI top-k recall vs brute force; more probes raise it") {
    val emb = Tables.t(spark, dir, "embeddings")
    val q = emb.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
    val r16 = topkRecall(
      Similarity.imiTopK(spark, emb, q, k = 5, kA = 8, kB = 8, nprobe = 16),
      exact)
    val r32 = topkRecall(
      Similarity.imiTopK(spark, emb, q, k = 5, kA = 8, kB = 8, nprobe = 32),
      exact)
    info(f"imi topk recall: nprobe 16 = $r16%.3f, 32 = $r32%.3f")
    assert(r16 >= 0.5, f"IMI recall $r16%.3f below bound")
    assert(r32 >= r16, "widening the probe list must not lose candidates")
  }

  test("IMI cell ranking equals the flat path over concatenated centroids") {
    val emb = Tables.t(spark, dir, "embeddings")
    val (cbA, cbB) = Similarity.imiCodebooks(emb, 4, 4, 42L, "embedding", 100000)
    // the IMI decomposition must score a cell exactly like the flat cosine
    // against the CONCATENATED centroid (modulo float summation order) —
    // compare the full per-row cell rankings across both paths
    val cells: Seq[(Int, Seq[Double])] =
      for (i <- cbA.indices; j <- cbB.indices)
        yield (i * cbB.length + j, (cbA(i) ++ cbB(j)).toSeq)
    def key(df: DataFrame, idc: String) = df
      .select(col(idc).cast("int"), $"corpus_id".cast("long"))
      .as[(Int, Long)].collect().toSet
    val imi = key(Similarity.imiAssignTop(emb, cbA, cbB, 3, "vec_id",
      "embedding"), "cell_id")
    val flat = key(Similarity.assignTopCentroids(emb, cells, 3, "vec_id",
      "embedding"), "centroid_id")
    // the two paths accumulate in different float orders (half-sums vs one
    // fused loop), so a cell pair within ~1 ulp of each other may legally
    // swap ranks — allow a sliver of disagreement, never more
    val diff = (imi diff flat).size + (flat diff imi).size
    assert(diff <= math.max(1, imi.size / 100),
      s"IMI vs flat ranking diverged on $diff of ${imi.size} assignments")
  }

  test("knnGraph recall@5 vs per-node brute force; nprobe raises it") {
    val emb = Tables.t(spark, dir, "embeddings").localCheckpoint()
    val a2 = emb.select($"vec_id".as("src"), $"embedding".as("v_a"))
    val b2 = emb.select($"vec_id".as("dst"), $"embedding".as("v_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"src").orderBy($"cos".desc, $"dst")
    val exact = a2.crossJoin(b2).filter($"src" =!= $"dst")
      .select($"src", $"dst",
        round(Similarity.cosine($"v_a", $"v_b"), 6).as("cos"))
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
      .select($"src".as("query_id"), $"dst".as("corpus_id"))
    def graph(np: Int) =
      Similarity.knnGraph(emb, k = 5, nlist = 16, nprobe = np)
        .select($"src".as("query_id"), $"dst".as("corpus_id"))
    val r2 = topkRecall(graph(2), exact)
    val r4 = topkRecall(graph(4), exact)
    info(f"knn graph recall@5: nprobe 2 = $r2%.3f, nprobe 4 = $r4%.3f")
    assert(r4 >= 0.6, f"knnGraph recall $r4%.3f below the s10 gate bound")
    assert(r4 > r2, "more probed cells should raise recall")
    // every node emits at most k edges, none to itself
    val g = graph(4).groupBy($"query_id")
      .agg(count(lit(1)).as("deg"),
        sum(when($"query_id" === $"corpus_id", 1).otherwise(0)).as("selfs"))
    assert(g.filter($"deg" > 5 || $"selfs" > 0).isEmpty)
  }

  test("two-phase top-k path is exactly the window path when candidates are total") {
    // bits=1/probeBits=1 makes every query probe BOTH buckets, so the LSH
    // candidate set is the whole corpus and lshTopK (new bounded-heap
    // two-phase rank) must reproduce bruteForceTopK (window rank) row-for-row
    // including rank order and tie-breaks — proof the partial combine did not
    // change candidate semantics, not just hold a recall bound.
    val emb = Tables.t(spark, dir, "embeddings")
    val q = emb.filter($"vec_id" < 20)
    val exact = rows(Similarity.bruteForceTopK(emb, q, k = 5)
      .select("query_id", "corpus_id", "cos", "rank")
      .orderBy("query_id", "rank"))
    val total = rows(Similarity.lshTopK(emb, q, k = 5, dim = 64, bits = 1,
        probeBits = 1).select("query_id", "corpus_id", "cos", "rank")
      .orderBy("query_id", "rank"))
    assert(total == exact)
  }

  test("IVF argmax projection survives a realistic nlist (codegen width)") {
    // the assignment kernel must NEVER run interpreted: with codegen
    // fallback DISABLED a whole-stage compile failure throws instead of
    // silently falling back (the r12 suite logged two janino 64 KB
    // failures here and still passed — a 2–5× tax at cluster scale hiding
    // behind green). Every nlist rides the one CentroidTopN path in the
    // heaviest fused shape (assignment + probe join + pair cosine in one
    // processNext); the plan holds the centroid matrix as one object, so
    // 63, 128 and 512 centroids all compile clean. Recall vs brute force
    // must stay sane when each list holds few vectors.
    val emb = Tables.t(spark, dir, "embeddings")
    val q = emb.filter($"vec_id" < 10)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val n63 = Similarity.ivfTopK(spark, emb, q, k = 5, nlist = 63, nprobe = 16)
      assert(n63.count() == 50, "k results per query at nlist=63")
      val got = Similarity.ivfTopK(spark, emb, q, k = 5, nlist = 128, nprobe = 32)
      assert(got.count() == 50, "k results per query at nlist=128")
      val n512 = Similarity.ivfTopK(spark, emb, q, k = 5, nlist = 512, nprobe = 64)
      assert(n512.count() == 50, "k results per query at nlist=512")
      val exact = rows(Similarity.bruteForceTopK(emb, q, k = 5)
        .select("query_id", "corpus_id"))
      val approx = rows(got.select("query_id", "corpus_id"))
      val r = approx.toSet.intersect(exact.toSet).size.toDouble / exact.size
      assert(r >= 0.5, f"IVF nlist=128 recall $r%.3f below bound")
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("quantized IVF + re-rank: recall bound, and exact under total coverage") {
    val emb = Tables.t(spark, dir, "embeddings")
    val q = emb.filter($"vec_id" < 10)
    // partial coverage: same probed lists as the s05 gate, re-rank inside
    val got = Similarity.ivfTopKQuantized(spark, emb, q, k = 5, nlist = 8,
      nprobe = 3, rerank = 4)
    val exact = rows(Similarity.bruteForceTopK(emb, q, k = 5)
      .select("query_id", "corpus_id"))
    val r = rows(got.select("query_id", "corpus_id")).toSet
      .intersect(exact.toSet).size.toDouble / exact.size
    assert(r >= 0.5, f"quantized IVF recall $r%.3f below bound")
    // total coverage: nprobe = nlist and rerank·k ≥ corpus ⇒ the int8 scan
    // only ORDERS candidates, the exact re-rank restores full precision —
    // output must be row-identical to brute force including tie-breaks
    val n = emb.count().toInt
    val all = rows(Similarity.ivfTopKQuantized(spark, emb, q, k = 5,
        nlist = 4, nprobe = 4, rerank = n / 5 + 1)
      .select("query_id", "corpus_id", "cos", "rank")
      .orderBy("query_id", "rank"))
    val bf = rows(Similarity.bruteForceTopK(emb, q, k = 5)
      .select("query_id", "corpus_id", "cos", "rank")
      .orderBy("query_id", "rank"))
    assert(all == bf)
  }

  test("JL prefilter + re-rank: recall bound, and exact under total coverage") {
    val emb = Tables.t(spark, dir, "embeddings")
    val q = emb.filter($"vec_id" < 10)
    // 64 → 32 dims, top rerank·k = 80 projected candidates re-scored at
    // full width. Uniform embeddings are the JL worst case (no cluster
    // margin between true neighbors and the pack) — JlDialProbe (retired,
    // `git show 82306df:src/main/scala/graft/examples/JlDialProbe.scala`) measured
    // 0.76 at sf0.001 with these dials; the s11 gate is 0.6.
    val got = Similarity.jlTopK(emb, q, k = 5, dim = 64, outDim = 32,
      rerank = 16)
    val exact = rows(Similarity.bruteForceTopK(emb, q, k = 5)
      .select("query_id", "corpus_id"))
    val r = rows(got.select("query_id", "corpus_id")).toSet
      .intersect(exact.toSet).size.toDouble / exact.size
    info(f"jl recall = $r%.3f")
    assert(r >= 0.6, f"JL prefilter recall $r%.3f below the s11 gate bound")
    // total coverage: rerank·k ≥ corpus ⇒ the projection only ORDERS
    // candidates and the exact re-rank restores full precision — output
    // must be row-identical to brute force including tie-breaks
    val n = emb.count().toInt
    val all = rows(Similarity.jlTopK(emb, q, k = 5, dim = 64, outDim = 16,
        rerank = n / 5 + 1)
      .select("query_id", "corpus_id", "cos", "rank")
      .orderBy("query_id", "rank"))
    val bf = rows(Similarity.bruteForceTopK(emb, q, k = 5)
      .select("query_id", "corpus_id", "cos", "rank")
      .orderBy("query_id", "rank"))
    assert(all == bf)
  }

  test("IVF-PQ + ADC re-rank: recall bound, and exact under total coverage") {
    val emb = Tables.t(spark, dir, "embeddings")
    val q = emb.filter($"vec_id" < 10)
    // rerank=8 (vs the int8 path's 4): 4-bit-per-subspace ADC ordering is
    // coarser than a scalar-int8 scan, so more survivors go to the exact
    // re-rank — the standard PQ dial (error lives in candidate ORDER, and
    // re-rank slots are cheap: ≤ |queries|·rerank·k broadcast rows)
    val got = Similarity.ivfTopKPQ(spark, emb, q, k = 5, dim = 64,
      nlist = 8, nprobe = 3, m = 8, codebookSize = 16, rerank = 8)
    val exact = rows(Similarity.bruteForceTopK(emb, q, k = 5)
      .select("query_id", "corpus_id"))
    val r = rows(got.select("query_id", "corpus_id")).toSet
      .intersect(exact.toSet).size.toDouble / exact.size
    info(f"ivf-pq recall = $r%.3f")
    assert(r >= 0.5, f"IVF-PQ recall $r%.3f below bound")
    // total coverage: the ADC scan only ORDERS candidates; with every list
    // probed and rerank·k ≥ corpus the exact re-rank restores full
    // precision — row-identical to brute force including tie-breaks
    val n = emb.count().toInt
    val all = rows(Similarity.ivfTopKPQ(spark, emb, q, k = 5, dim = 64,
        nlist = 4, nprobe = 4, m = 8, codebookSize = 16, rerank = n / 5 + 1)
      .select("query_id", "corpus_id", "cos", "rank")
      .orderBy("query_id", "rank"))
    val bf = rows(Similarity.bruteForceTopK(emb, q, k = 5)
      .select("query_id", "corpus_id", "cos", "rank")
      .orderBy("query_id", "rank"))
    assert(all == bf)
  }

  test("residual IVF-PQ: recall >= plain PQ at identical dials, exact under total coverage") {
    val emb = Tables.t(spark, dir, "embeddings")
    val q = emb.filter($"vec_id" < 10)
    val exact = rows(Similarity.bruteForceTopK(emb, q, k = 5)
      .select("query_id", "corpus_id")).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      rows(df.select("query_id", "corpus_id")).toSet
        .intersect(exact).size.toDouble / exact.size
    val plain = recallOf(Similarity.ivfTopKPQ(spark, emb, q, k = 5,
      dim = 64, nlist = 8, nprobe = 3, m = 8, codebookSize = 16, rerank = 8))
    val resid = recallOf(Similarity.ivfTopKPQResidual(spark, emb, q, k = 5,
      dim = 64, nlist = 8, nprobe = 3, m = 8, codebookSize = 16, rerank = 8))
    info(f"pq recall: plain = $plain%.3f, residual = $resid%.3f")
    assert(resid >= 0.5, f"residual PQ recall $resid%.3f below bound")
    // UNIFORM embeddings are the residual decomposition's null case: cells
    // capture almost no structure (‖cell mean‖ ≪ 1), so the residual term
    // shrinks barely and the two quantizers land within fit noise of each
    // other — pin parity, not a win
    assert(resid >= plain - 0.05,
      f"residual $resid%.3f fell below plain $plain%.3f beyond noise")
    // on CLUSTERED data — the case coarse cells exist for — the residual
    // is just the intra-cluster noise, far tighter than the full vector:
    // residual PQ must beat plain PQ outright
    val rnd = new scala.util.Random(11)
    def unit(): Array[Double] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = Array.fill(8)(unit())
    val clustered = (0 until 400).map { i =>
      val c = centers(i % 8)
      val v = c.zip(Array.fill(64)(rnd.nextGaussian() * 0.08))
        .map { case (a, b) => a + b }
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val cq2 = clustered.filter($"vec_id" < 10)
    val exact2 = rows(Similarity.bruteForceTopK(clustered, cq2, k = 5)
      .select("query_id", "corpus_id")).toSet
    def recall2(df: org.apache.spark.sql.DataFrame): Double =
      rows(df.select("query_id", "corpus_id")).toSet
        .intersect(exact2).size.toDouble / exact2.size
    val plain2 = recall2(Similarity.ivfTopKPQ(spark, clustered, cq2, k = 5,
      dim = 64, nlist = 8, nprobe = 3, m = 8, codebookSize = 16, rerank = 2))
    val resid2 = recall2(Similarity.ivfTopKPQResidual(spark, clustered, cq2,
      k = 5, dim = 64, nlist = 8, nprobe = 3, m = 8, codebookSize = 16,
      rerank = 2))
    info(f"clustered pq recall: plain = $plain2%.3f, residual = $resid2%.3f")
    assert(resid2 > plain2,
      f"residual $resid2%.3f did not beat plain $plain2%.3f on clustered data")
    // total coverage: ADC order + centroid term only rank candidates; with
    // every list probed and rerank·k >= corpus the exact re-rank restores
    // brute-force rows exactly
    val n = emb.count().toInt
    val all = rows(Similarity.ivfTopKPQResidual(spark, emb, q, k = 5,
        dim = 64, nlist = 4, nprobe = 4, m = 8, codebookSize = 16,
        rerank = n / 5 + 1)
      .select("query_id", "corpus_id", "cos", "rank")
      .orderBy("query_id", "rank"))
    val bf = rows(Similarity.bruteForceTopK(emb, q, k = 5)
      .select("query_id", "corpus_id", "cos", "rank")
      .orderBy("query_id", "rank"))
    assert(all == bf)
  }

  test("pqEncode: valid code range, determinism, nearest-centroid argmin") {
    val emb = Tables.t(spark, dir, "embeddings").limit(200)
    val cb = Similarity.pqCodebooks(emb, dim = 64, m = 8, codebookSize = 16)
    assert(cb.length == 8 && cb.forall(_.length == 16) &&
      cb.forall(_.forall(_.length == 8)))
    val codes = emb.select(
      Similarity.pqEncode(Similarity.l2Normalize($"embedding"), cb)
        .as("codes"))
      .as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == 8 && c.forall(j => j >= 0 && j < 16)))
    // argmin check on one row against a plain-Scala reference
    val v = emb.select(Similarity.l2Normalize($"embedding")
      .cast("array<double>")).as[Seq[Double]].head()
    val expected = (0 until 8).map { mi =>
      val sub = v.slice(mi * 8, mi * 8 + 8)
      (0 until 16).minBy { j =>
        val c = cb(mi)(j)
        sub.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
      }
    }
    val got = emb.limit(1).select(
      Similarity.pqEncode(Similarity.l2Normalize($"embedding"), cb)
        .as("codes")).as[Seq[Int]].head()
    assert(got == expected, s"PQ argmin mismatch: $got vs $expected")
    // DotDouble: fused double dot matches composable form, null on mismatch
    val d = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    assert(d.select(graft.functions.DotDouble($"a", $"b")).as[Double]
      .head() == 32.0)
    assert(d.select(graft.functions.DotDouble($"a", slice($"b", 1, 2)))
      .as[Option[Double]].head().isEmpty)
  }

  test("PqEncode and PqAdcTable == their per-code DotDouble forms, bit for bit") {
    val emb = Tables.t(spark, dir, "embeddings")
    val cb = Similarity.pqCodebooks(emb, dim = 64, m = 8, codebookSize = 16)
    val v = Similarity.l2Normalize($"embedding")
    // reference: one DotDouble per (subspace, code) over a slice, as plan
    // literals; encode = argmax of (dot - |c|^2/2, -code) structs
    def sub(mi: Int) = slice(v, mi * 8 + 1, 8)
    val refTable = array((0 until 8).map { mi =>
      array(cb(mi).map(c => graft.functions.DotDouble(sub(mi),
        typedlit(c.toSeq))).toIndexedSeq: _*)
    }: _*)
    val refCodes = array((0 until 8).map { mi =>
      val best = array_max(array(cb(mi).zipWithIndex.map { case (c, j) =>
        struct((graft.functions.DotDouble(sub(mi), typedlit(c.toSeq)) -
          lit(c.map(x => x * x).sum / 2.0)).as("s"), lit(-j).as("negj"))
      }.toIndexedSeq: _*))
      (-best.getField("negj")).cast("int")
    }: _*)
    val got = emb.select($"vec_id",
      graft.functions.PqAdcTable(v, cb).as("t"), refTable.as("rt"),
      graft.functions.PqEncode(v, cb).as("c"), refCodes.as("rc"))
    // bit equality of every table entry (raw long bits: NaN-safe)
    val bits = udf((t: Seq[Seq[Double]]) =>
      t.map(_.map(java.lang.Double.doubleToRawLongBits)))
    val diff = got.filter(bits($"t") =!= bits($"rt") || $"c" =!= $"rc")
    assert(diff.isEmpty, s"kernel != DotDouble form on ${diff.count()} rows")
    // same schema as the literal forms, down to the nullability flags
    assert(got.schema("t") == got.schema("rt").copy(name = "t"))
    assert(got.schema("c") == got.schema("rc").copy(name = "c"))
  }

  test("semanticDupPairs: within-cell recall vs exact twin; precision exact") {
    val e = {
      val base = Tables.t(spark, dir, "embeddings").filter($"vec_id" < 500)
        .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
      base.unionByName(base.filter($"vec_id" % 4 === 0)
        .select(($"vec_id" + 100000).as("vec_id"),
          org.apache.spark.sql.functions.transform($"embedding",
            x => x + org.apache.spark.sql.functions.lit(0.05)).as("embedding")))
    }.localCheckpoint()
    val exact = rows(Similarity.nearDupPairsExact(e, threshold = 0.9)
      .select("id_a", "id_b")).toSet
    val sem = rows(Similarity.semanticDupPairs(e, threshold = 0.9, nlist = 8)
      .select("id_a", "id_b")).toSet
    // precision 1 by construction: every emitted pair is exact-checked
    assert(sem.subsetOf(exact), "semantic pair not in the exact set")
    val r = sem.intersect(exact).size.toDouble / exact.size
    assert(r >= 0.6, f"semantic dedup recall $r%.3f below bound")
  }

  test("DotInt8: fused int dot product matches the composable form, null on mismatch") {
    val df = Seq((Seq(1, -2, 3), Seq(4, 5, -6)), (Seq(127, 127), Seq(127, 127)))
      .toDF("a", "b")
    val got = rows(df.select(graft.functions.DotInt8($"a", $"b").as("d")))
    assert(got == Seq(Seq(4 - 10 - 18L), Seq(2L * 127 * 127)))
    val bad = Seq((Seq(1, 2), Seq(1, 2, 3))).toDF("a", "b")
      .select(graft.functions.DotInt8($"a", $"b").as("d"))
    assert(bad.collect()(0).isNullAt(0), "dimension mismatch must be NULL")
  }

  test("MinHash LSH pair recall vs exact n-gram Jaccard pairs") {
    val docs = {
      val d = Tables.t(spark, dir, "documents").select($"doc_id", $"text")
      d.unionByName(d.filter($"doc_id" % 7 === 0)
        .select(($"doc_id" + 1000000).as("doc_id"),
          concat($"text", lit(" graftmarker")).as("text")))
    }
    val truth = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5, maxDf = 1000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val approx = Dedup.minhashNearDupPairs(docs, threshold = 0.5, k = 64, bands = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val r = approx.intersect(truth).size.toDouble / truth.size
    info(f"minhash pair recall = $r%.3f (truth=${truth.size}, approx=${approx.size})")
    assert(r >= 0.7, f"minhash pair recall $r%.3f below bound")
  }

  test("SimHash recovers most injected marker near-dup pairs") {
    val docs = {
      val d = Tables.t(spark, dir, "documents").select($"doc_id", $"text")
      d.unionByName(d.filter($"doc_id" % 7 === 0)
        .select(($"doc_id" + 1000000).as("doc_id"),
          concat($"text", lit(" graftmarker")).as("text")))
    }
    val markers = docs.filter($"doc_id" >= 1000000).count()
    val found = Dedup.simhashNearDupPairs(docs, maxHamming = 3)
      .filter($"id_b" - $"id_a" === 1000000).count()
    info(s"simhash marker pairs: $found / $markers")
    assert(found.toDouble / markers >= 0.6,
      s"simhash marker recall $found/$markers below bound")
  }

  test("hotShingles reports exactly what the maxDf guard drops") {
    val docs = Seq(
      (1L, "the common prefix alpha"), (2L, "the common prefix beta"),
      (3L, "the common prefix gamma"), (4L, "unrelated text entirely here"))
      .toDF("doc_id", "text")
    // 3-gram 'the common prefix' appears in 3 docs; with maxDf=2 it must
    // be reported as dropped
    val hot = Dedup.hotShingles(docs, n = 3, maxDf = 2).collect()
    assert(hot.length == 1 && hot.head.getLong(1) == 3L)
    assert(Dedup.hotShingles(docs, n = 3, maxDf = 3).isEmpty)
  }

  test("ivfTopK trains on a bounded sample without changing result shape") {
    val emb = Tables.t(spark, dir, "embeddings")
    val q = emb.filter($"vec_id" < 10)
    // tiny fit budget: centroids train on 50 vectors, assignment still
    // covers the whole corpus and every query gets k results
    val r = Similarity.ivfTopK(spark, emb, q, k = 5, nlist = 4, nprobe = 2,
      fitSampleLimit = 50)
    val counts = r.groupBy("query_id").count().select("count")
      .as[Long].collect()
    assert(counts.length == 10 && counts.forall(_ == 5L))
  }

  test("multi-table nearDupPairs raises recall over single-table") {
    val e = {
      val base = Tables.t(spark, dir, "embeddings").filter($"vec_id" < 300)
        .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
      base.unionByName(base.filter($"vec_id" % 4 === 0)
        .select(($"vec_id" + 100000).as("vec_id"),
          transform($"embedding", x => x + lit(0.05)).as("embedding")))
    }.localCheckpoint()
    val truth = Similarity.nearDupPairsExact(e, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    def recallAt(tables: Int): Double = {
      val a = Similarity.nearDupPairs(e, 0.9, dim = 64, bits = 6,
        tables = tables).select("id_a", "id_b").as[(Long, Long)].collect().toSet
      a.intersect(truth).size.toDouble / truth.size
    }
    val r1 = recallAt(1)
    val r4 = recallAt(4)
    info(f"nearDupPairs recall: 1 table = $r1%.3f, 4 tables = $r4%.3f")
    assert(r4 >= 0.6 && r4 > r1)
  }

  // ---- centroid assignment kernel vs a plain-Scala reference ----

  private def centroidsFrom(df: DataFrame, n: Int): Seq[(Int, Seq[Double])] =
    df.filter($"vec_id" < n)
      .select($"vec_id".cast("int"), $"embedding".cast("array<double>"))
      .as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1)

  /** The corpus plus planted rows: an exact copy of centroid `tieWith`
    * (which `cents` duplicates under its last id, so the two tie
    * bit-for-bit), an all-zero vector (every score 0.0) and a vector with
    * one NaN component (every score NaN — the greatest double in Spark's
    * ordering). Ids 900001–900003. */
  private def withPlanted(emb: DataFrame, cents: Seq[(Int, Seq[Double])],
      tieWith: Int): DataFrame = {
    val tieVec = cents.find(_._1 == tieWith).get._2
    val nanVec = tieVec.updated(5, Double.NaN)
    emb.select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
      .unionByName(Seq((900001L, tieVec), (900002L, Seq.fill(64)(0.0)),
        (900003L, nanVec)).toDF("vec_id", "embedding"))
  }

  /** (centroid_id, corpus_id) rows from the plain-Scala reference:
    * [[Similarity.cosineLocal]] scores into a [[Similarity.BoundedTopN]]. */
  private def reference(corpus: DataFrame, cents: Seq[(Int, Seq[Double])],
      n: Int): Seq[(Int, Long)] = {
    val cs = cents.map { case (i, v) => (i, v.toArray) }
    corpus.select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq.flatMap { case (id, v) =>
        val heap = new Similarity.BoundedTopN(math.min(n, cs.size))
        cs.foreach { case (ci, c) => heap.offer(Similarity.cosineLocal(v.toArray, c), ci) }
        heap.drainIds().toSeq.map(ci => (ci, id))
      }.sorted
  }

  private def assignmentKey(df: DataFrame): Seq[(Int, Long)] = df
    .select($"centroid_id".cast("int"), $"corpus_id".cast("long"))
    .as[(Int, Long)].collect().sorted.toSeq

  test("centroid assignment kernel == plain-Scala reference at nlist 16 (ties, NaN)") {
    val emb = Tables.t(spark, dir, "embeddings")
    // 16 centroids: ids 0..14 from the corpus, id 15 a copy of centroid 3
    val base = centroidsFrom(emb, 15)
    val cents = base :+ ((15, base(3)._2))
    val corpus = withPlanted(emb, cents, tieWith = 3)
    // n=1: assignToCentroids; n=3: assignTopCentroids — each row-identical
    // to the reference
    val one = assignmentKey(Similarity.assignToCentroids(corpus, cents,
      "vec_id", "embedding"))
    assert(one == reference(corpus, cents, 1))
    // the float32 corpus as stored (widened per element, like cosine)
    assert(assignmentKey(Similarity.assignToCentroids(emb, cents, "vec_id",
      "embedding")) == reference(emb, cents, 1))
    val three = assignmentKey(Similarity.assignTopCentroids(corpus, cents, 3,
      "vec_id", "embedding"))
    assert(three == reference(corpus, cents, 3))
    // the planted rows pin the ordering itself: an exact tie goes to the
    // lower id, all-equal scores (0.0 or NaN) to the lowest ids (rows are
    // sorted by centroid id, not by rank)
    def of(rows: Seq[(Int, Long)], id: Long) = rows.filter(_._2 == id).map(_._1)
    assert(of(one, 900001L) == Seq(3))
    assert(Set(3, 15).subsetOf(of(three, 900001L).toSet))
    assert(of(one, 900002L) == Seq(0) && of(three, 900002L) == Seq(0, 1, 2))
    assert(of(one, 900003L) == Seq(0) && of(three, 900003L) == Seq(0, 1, 2))
  }

  test("512-centroid assignment == plain-Scala reference; plan stays small") {
    val emb = Tables.t(spark, dir, "embeddings")
    // 500 corpus vectors + 12 perturbed copies = 512 centroids; id 511 is
    // an exact copy of centroid 7 (a planted tie)
    val cents512 = {
      val base = centroidsFrom(emb, 500)
      base ++ base.take(11).map { case (i, v) =>
        (i + 500, v.map(_ + 0.01)) } :+ ((511, base(7)._2))
    }
    val corpus = withPlanted(emb, cents512, tieWith = 7)
    val assigned = Similarity.assignTopCentroids(corpus, cents512, 2,
      "vec_id", "embedding")
    // the plan must not embed the centroid matrix as literals
    val plan = assigned.queryExecution.executedPlan.toString
    assert(plan.length < 20000, s"plan blew up to ${plan.length} chars")
    val two = assignmentKey(assigned)
    assert(two == reference(corpus, cents512, 2),
      "kernel and reference disagree at nlist=512")
    assert(two.filter(_._2 == 900001L).map(_._1) == Seq(7, 511))
    assert(two.filter(_._2 == 900003L).map(_._1) == Seq(0, 1))
  }

  test("maxCosToRef agrees with bruteForceTopK k=1 over the ref set") {
    val emb = Tables.t(spark, dir, "embeddings")
    val ref = emb.filter($"vec_id" % 10 === 7)
    val corpus = emb.filter($"vec_id" % 10 =!= 7).limit(50)
    val got = Similarity.maxCosToRef(corpus, ref)
      .select($"vec_id", round($"max_cos", 6), $"nearest_ref_id")
      .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
    // brute-force twin: top-1 over the REF set per corpus row — swap the
    // roles (corpus rows are the "queries")
    val twin = Similarity.bruteForceTopK(ref, corpus, k = 1)
      .select($"query_id", $"cos", $"corpus_id")
      .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
    assert(got == twin, "mapPartitions max-cos disagrees with the twin")
  }

  test("maxCosToRef: null vectors surface with NULL, tie goes to low id") {
    val corpus = Seq((1L, Seq(1.0, 0.0)), (2L, null))
      .toDF("vec_id", "embedding")
    // two identical ref vectors under different ids: tie-break must pick 5
    val ref = Seq((9L, Seq(1.0, 0.0)), (5L, Seq(1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.maxCosToRef(corpus, ref).collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSeq
      .sortBy(_._1)
    assert(got == Seq(
      (1L, Some(1.0), Some(5L)),
      (2L, None, None)))
    // and the decontamination wrapper keeps the null row uncontaminated
    val flags = Similarity.semanticDecontaminate(corpus, ref, threshold = 0.9)
      .select($"vec_id", $"is_contaminated").as[(Long, Boolean)]
      .collect().toMap
    assert(flags == Map(1L -> true, 2L -> false))
  }

  test("maxCosToRef fails loud on an empty reference set") {
    val corpus = Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    val empty = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.maxCosToRef(corpus, empty)
    }
    assert(e.getMessage.contains("empty reference set"))
  }

  test("maxCosToRef: a wrong-dimension corpus or reference vector fails naming both dimensions") {
    val ref = Seq((5L, Seq(1.0, 0.0, 0.0)), (6L, Seq(0.0, 1.0, 0.0)))
      .toDF("vec_id", "embedding")
    def failsNaming(got: Int, want: Int)(f: => Any): Unit = {
      val e = intercept[Exception](f)
      val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
      assert(msg.contains(s"dimension $got") && msg.contains(s"dimension $want"),
        s"error does not name both dimensions: $msg")
    }
    // shorter corpus row: was a silent prefix cosine; longer: was an
    // ArrayIndexOutOfBoundsException
    for (v <- Seq(Seq(1.0, 0.0), Seq(1.0, 0.0, 0.0, 0.0))) {
      val corpus = Seq((1L, Seq(1.0, 0.0, 0.0)), (2L, v)).toDF("vec_id", "embedding")
      failsNaming(v.length, 3)(Similarity.maxCosToRef(corpus, ref).collect())
    }
    // mixed-dimension reference set: refused on the driver, before any scan
    val mixed = ref.union(Seq((7L, Seq(1.0, 1.0))).toDF("vec_id", "embedding"))
    val corpus = Seq((1L, Seq(1.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    failsNaming(2, 3)(Similarity.maxCosToRef(corpus, mixed))
  }
}
