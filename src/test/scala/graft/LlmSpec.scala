package graft

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Multimodal, Packing, Sampling, Similarity, TextOps}

/** `fs.file.impl` that counts each file's opens ([[OpenCountingFs.opens]],
  * keyed by path); a spec installs it through the session conf with
  * `fs.file.impl.disable.cache`. */
class OpenCountingFs extends graft.exec.ForkFreeLocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int) = {
    OpenCountingFs.opens.merge(f.toUri.getPath, 1, Integer.sum(_, _))
    super.open(f, bufferSize)
  }
}

object OpenCountingFs {
  val opens = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
}

class LlmSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "THE  quick  Brown fox jumps over the lazy dog near the river bank today"), // case/ws variant of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank tomorrow"), // near-dup of 1
    (4L, "completely different content about spark catalyst optimizer internals"),
    (5L, "der hund und die katze sind nicht mit der maus und dem igel zu hause"))
    .toDF("doc_id", "text")

  test("exact dedup groups case/whitespace variants") {
    val out = Dedup.exact(docs).collect()
    assert(out.length == 4) // 1&2 merge
    assert(out.find(_.getAs[Long]("dup_count") == 2L).get.getAs[Long]("doc_id") == 1L)
  }

  test("exactRows keeps the lowest-id row whole — identical to exact + join-back") {
    val tagged = docs.withColumn("lang", concat(lit("l"), $"doc_id" % 2))
    val viaRows = Dedup.exactRows(tagged)
      .select($"doc_id", $"text", $"lang")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    val viaJoin = tagged
      .join(Dedup.exact(tagged).select($"doc_id"), Seq("doc_id"), "left_semi")
      .select($"doc_id", $"text", $"lang")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(viaRows == viaJoin, "single-aggregate form diverged from join-back")
    // the KEPT duplicate carries ITS OWN text (doc 1's, not doc 2's variant)
    assert(viaRows.find(_._1 == 1L).get._2.startsWith("the quick"))
  }

  test("zipfAudit: ~-1 slope on a Zipf corpus, ~0 on a uniform one") {
    // token k appears floor(600/k) times -> frequencies follow 1/rank
    val zipf = (1 to 30).flatMap(k => Seq.fill(600 / k)(s"w$k"))
    val zc = Seq((1L, zipf.mkString(" "))).toDF("doc_id", "text")
    val zr = TextOps.zipfAudit(zc, topN = 30).collect()(0)
    val zslope = zr.getAs[Double]("zipf_slope")
    assert(math.abs(zslope - (-1.0)) < 0.1, s"zipf slope $zslope not ~ -1")
    assert(zr.getAs[Long]("n_tokens") == zipf.length)
    assert(zr.getAs[Long]("vocab_size") == 30L)
    // uniform corpus: every token equally frequent -> slope ~ 0 and the
    // top-10 mass is exactly 10/vocab
    val uni = (1 to 40).flatMap(k => Seq.fill(25)(s"u$k"))
    val uc = Seq((1L, uni.mkString(" "))).toDF("doc_id", "text")
    val ur = TextOps.zipfAudit(uc, topN = 40).collect()(0)
    assert(math.abs(ur.getAs[Double]("zipf_slope")) < 0.01)
    assert(math.abs(ur.getAs[Double]("top10_mass") - 0.25) < 1e-6)
    intercept[IllegalArgumentException] { TextOps.zipfAudit(uc, topN = 1) }
    ()
  }

  test("incremental dedup: batch vs store drops history matches, collapses batch dups") {
    val hist = Seq((1L, "the quick brown fox"), (2L, "other text")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "The  Quick Brown Fox "), // normalizes to history doc 1 -> dropped
      (11L, "something new"),         // kept
      (12L, "something  new"),        // batch-internal dup of 11 -> collapsed
      (13L, "also new")               // kept
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalExact(batch, Dedup.fingerprintStore(hist))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_count")))
      .toSet
    assert(out == Set((11L, 2L), (13L, 1L)))
  }

  test("incremental near-dup: history matches dropped, novel docs kept") {
    val hist = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa extra"),
      (11L, "completely different novel tokens q w e r t y u i o p"),
      (12L, "   ") // zero tokens: no shingles, must still get a row
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDup(batch, Dedup.nearDupStore(hist),
        threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out.size == 3, "one row per batch row, token-less docs included")
    assert(out(10L), "one-token-appended copy of history must be flagged")
    assert(!out(11L), "novel doc must not be flagged")
    assert(!out(12L), "token-less doc reports is_dup=false, not absence")
  }

  test("incremental SEMANTIC near-dup: perturbed history dropped, novel and zero vectors kept") {
    import graft.llm.Similarity
    val dim = 8
    def vec(xs: Double*): Seq[Double] = xs.toSeq
    val a = vec(1, 0.2, -0.5, 0.8, 0.1, -0.3, 0.6, 0.4)
    val b = vec(-0.7, 0.9, 0.3, -0.2, 0.5, 0.1, -0.8, 0.6)
    val hist = Seq((1L, a), (2L, b)).toDF("vec_id", "embedding")
    val batch = Seq(
      (10L, a.map(_ + 0.001)),              // near-copy of history
      (11L, vec(0, 0, 1, 0, 0, 0, 0, 0)),   // orthogonal-ish novel
      (12L, vec(0, 0, 0, 0, 0, 0, 0, 0))    // zero vector: cos = 0 contract
    ).toDF("vec_id", "embedding")
    val out = Similarity.incrementalEmbeddingNearDup(batch,
        Similarity.embeddingStore(hist, dim), threshold = 0.95, dim = dim)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    assert(out.size == 3, "one row per batch row, zero vectors included")
    assert(out(10L)._1 && out(10L)._2.exists(_ >= 0.99),
      "perturbed copy of history must be flagged with its best cosine")
    assert(!out(11L)._1 && out(11L)._2.isEmpty,
      "novel vector must not be flagged and best_cos must be NULL")
    assert(!out(12L)._1, "zero vector scores cos 0 everywhere — kept")
  }

  test("capped pair listing == CC over the full listing (identical-sig " +
    "collapse is exact), on a duplicate-heavy corpus") {
    import spark.implicits._
    // a 40-copy identical boilerplate cluster (the case whose candidate
    // pairs the r16 collapse keeps linear), a 3-variant near-dup cluster,
    // singletons, and an empty doc
    val boiler = (0 until 40).map(i =>
      (100L + i, "the quick brown fox jumps over the lazy dog " * 4))
    val vars = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (12L, "alpha beta gamma delta epsilon zeta eta theta mu kappa"))
    val lone = Seq(
      (1L, "completely different text about something else entirely unrelated"),
      (2L, ""),
      (3L, "yet another singleton document with distinct content words here"))
    val corpus = (boiler ++ vars ++ lone).toDF("doc_id", "text")
    val (thr, k, bands) = (0.5, 64, 16)
    val expected = Dedup.connectedComponents(
        Dedup.minhashNearDupPairs(corpus, thr, k, bands)
          .select($"id_a", $"id_b"))
      .filter($"node" =!= $"comp")
      .select($"comp".as("id_a"), $"node".as("id_b"))
      .localCheckpoint()
    val capped = Dedup.minhashNearDupPairsCapped(corpus, thr, k, bands)
      .localCheckpoint()
    assert(capped.except(expected).count() == 0 &&
      expected.except(capped).count() == 0,
      "capped listing must equal CC over the full scored-pair relation")
    // the boilerplate cluster contributes exactly size-1 rows
    assert(capped.filter($"id_a" === 100L).count() == 39)
  }

  test("minhash LSH finds the near-dup pair and not the distinct pair") {
    // bands=32 (r=2): band-match probability 1-(1-J²)³² ≈ 1 for J ≈ 0.6
    val pairs = Dedup.minhashNearDupPairs(docs, threshold = 0.4, k = 64, bands = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash finds near-identical docs within hamming budget") {
    val pairs = Dedup.simhashNearDupPairs(docs, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngram jaccard computes exact overlap") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5, maxDf = 100)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.keySet.contains((1L, 2L)))
    assert(pairs((1L, 2L)) == 1.0) // identical after normalization
    assert(pairs.keySet.contains((1L, 3L)))
    assert(pairs((1L, 3L)) < 1.0)
  }

  test("brute-force top-k: self is rank 1 with cos 1.0; ranks are dense") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)), (2L, Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)), (4L, Seq(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 1), k = 3)
      .orderBy($"rank").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("corpus_id") == 1L)
    assert(out(0).getAs[Double]("cos") == 1.0)
    assert(out(1).getAs[Long]("corpus_id") == 2L) // nearest non-self
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
  }

  test("LSH top-k returns the true nearest neighbour for clustered vectors") {
    val emb = Seq(
      (1L, Seq.fill(8)(1.0f)), (2L, Seq.fill(8)(0.99f)),
      (3L, Seq.fill(8)(-1.0f)), (4L, (Seq.fill(4)(1.0f) ++ Seq.fill(4)(-1.0f))))
      .toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(emb, emb.filter($"vec_id" === 1), k = 2, dim = 8,
      bits = 4, probeBits = 2)
      .orderBy($"rank").collect()
    assert(out.nonEmpty && out.head.getAs[Long]("corpus_id") == 1L)
  }

  test("language id picks stopword-dominant language; empty → und") {
    val out = docs.select($"doc_id", TextOps.langId($"text").as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(5L) == "de")
    val empty = spark.range(1).select(TextOps.langId(lit("zzz qqq")).as("l"))
      .collect().head.getString(0)
    assert(empty == "und")
  }

  test("token counts, ratios and fingerprint are deterministic") {
    val r = docs.filter($"doc_id" === 1)
      .select(TextOps.tokenCount($"text").as("n"),
        TextOps.punctRatio($"text").as("p"),
        TextOps.fingerprint($"text").as("fp"))
      .collect().head
    assert(r.getAs[Int]("n") == 14)
    assert(r.getAs[Double]("p") == 0.0)
    val fp2 = docs.filter($"doc_id" === 2)
      .select(TextOps.fingerprint($"text")).collect().head.getString(0)
    assert(r.getAs[String]("fp") == fp2) // normalization-invariant
  }

  test("multimodal: synthesize → extract features → frame sampling plumbing") {
    val media = Multimodal.synthesize(docs, "doc_id", "text")
    assert(media.schema("media").dataType.simpleString.contains("payload:binary"))
    val feats = Multimodal.extractFeatures(spark, media, "doc_id")
    val got = feats.collect()
    assert(got.length == 5)
    assert(got.forall(_.getAs[Seq[Float]]("features").length == 8))
    // determinism: same payload ⇒ same features
    val f2 = Multimodal.extractFeatures(spark, media, "doc_id").collect()
    assert(got.map(_.toSeq).toSet == f2.map(_.toSeq).toSet)
    val frames = Multimodal.sampleFrames(media, "doc_id", fps = 1.0)
    val vids = media.filter(col("media.meta.kind") === "video").count()
    if (vids > 0) assert(frames.select("doc_id").distinct().count() == vids)
  }

  test("frame sampling emits duration_ms * fps / 1000 frames per video") {
    val media = Multimodal.synthesize(docs, "doc_id", "text")
    for (fps <- Seq(1.0, 2.0)) {
      val expected = media.filter(col("media.meta.kind") === "video")
        .select(col("doc_id"),
          greatest(floor(col("media.meta.duration_ms") * fps / 1000.0), lit(1.0))
            .cast("long").as("want"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = Multimodal.sampleFrames(media, "doc_id", fps)
        .groupBy("doc_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"fps=$fps")
      // frame_idx * (1000/fps) must stay inside the clip
      val maxTs = Multimodal.sampleFrames(media, "doc_id", fps)
        .join(media.select(col("doc_id"),
          col("media.meta.duration_ms").as("dur")), Seq("doc_id"))
        .filter(col("frame_ts_ms") >= col("dur")).count()
      assert(maxTs == 0, s"fps=$fps: frame timestamps past clip end")
    }
  }

  test("IVF top-k finds the true nearest neighbour for clustered vectors") {
    val vecs = (0 until 40).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Seq.tabulate(8)(j => base * (1.0f + 0.01f * ((i + j) % 5))))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(spark, emb, emb.filter($"vec_id" === 0), k = 3,
      nlist = 2, nprobe = 1)
    val rows = out.orderBy($"rank").collect()
    assert(rows.nonEmpty)
    assert(rows.head.getAs[Long]("corpus_id") == 0L) // self found via its list
    assert(rows.head.getAs[Double]("cos") == 1.0)
    // with 2 well-separated clusters and nprobe=1, results stay in-cluster
    assert(rows.forall(_.getAs[Long]("corpus_id") % 2 == 0))
  }

  test("containment: leaked doc ≈ 1, fresh doc ≈ 0, partial in between") {
    val train = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val test = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // verbatim leak
      (11L, "totally novel words nowhere else found"), // fresh
      (12L, "alpha beta gamma novel unseen thing")) // partial
      .toDF("doc_id", "text")
    val got = Dedup.containment(train, test)
      .select("doc_id", "containment").as[(Long, Double)].collect().toMap
    assert(got(10L) == 1.0)
    assert(got(11L) == 0.0)
    assert(got(12L) > 0.0 && got(12L) < 1.0)
  }

  test("domainStats counts mentions and distinct docs") {
    val docs = Seq(
      (1L, "see https://a.example.org/x and http://b.net/y"),
      (2L, "again https://a.example.org/z plus https://a.example.org/w"),
      (3L, "no urls at all")).toDF("doc_id", "text")
    val got = TextOps.domainStats(docs).as[(String, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(("a.example.org", 3L, 2L), ("b.net", 1L, 1L)))
  }

  test("bigramRepetition flags templated text") {
    val docs = Seq(
      (1L, "buy now buy now buy now buy now"), // modal bigram dominates
      (2L, "every word here appears exactly once total"),
      (3L, "x")) // <2 tokens → excluded
      .toDF("doc_id", "text")
    val got = TextOps.bigramRepetition(docs)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq(1L, 2L))
    val (_, n1, top1, f1) = got(0)
    assert(n1 == 7L && top1 == 4L && f1 == 0.571429) // 'buy now' ×4 of 7
    assert(got(1)._4 < 0.2)
  }

  test("stratifiedSample is a pure per-row filter — no shuffle in the plan") {
    val df = spark.range(0, 100).select($"id".as("doc_id"),
      concat(lit("text"), $"id").as("text"),
      element_at(array(lit("en"), lit("de")), ($"id" % 2 + 1).cast("int"))
        .as("lang"))
    val out = Sampling.stratifiedSample(df, $"text", $"lang",
      rates = Map("en" -> 16384), salt = "s")
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "stratified sampling must not shuffle")
    // only 'en' rows are thinned; 'de' defaults to keep-all
    val counts = out.groupBy($"lang").count().as[(String, Long)]
      .collect().toMap
    assert(counts("de") == 50L && counts.getOrElse("en", 0L) < 50L)
  }

  test("decontaminate: drops leaked train docs, keeps fresh and unshingleable") {
    val eval_ = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"), // leaked
      (2L, "completely unrelated content about spark engines"),  // fresh
      (3L, ""))                                                  // no shingles
      .toDF("doc_id", "text")
    val kept = Dedup.decontaminate(train, eval_, n = 3, threshold = 0.5)
      .orderBy($"doc_id").select($"doc_id", $"containment")
      .as[(Long, Double)].collect()
    assert(kept.map(_._1).toSeq == Seq(2L, 3L), s"got ${kept.toSeq}")
    assert(kept.forall(_._2 == 0.0))
  }

  test("chunkTokens: stride coverage, overlap, clipping, empty docs") {
    val df = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens: 3 chunks
      (2L, "a b c"),                                  // < chunk: 1 chunk
      (3L, ""),                                       // empty: no chunks
      (4L, (1 to 8).map(i => s"x$i").mkString(" ")))  // exactly 2 strides
      .toDF("doc_id", "text")
    val out = TextOps.chunkTokens(df, chunkSize = 5, stride = 4)
      .orderBy($"doc_id", $"chunk_idx")
      .as[(Long, Int, Int, String)].collect()
    // doc 1: starts 0,4,8 → sizes 5,5,2; doc 2: one chunk of 3;
    // doc 4 (8 tokens): starts 0,4 → sizes 5,4
    assert(out.map(r => (r._1, r._2, r._3)).toSeq == Seq(
      (1L, 0, 5), (1L, 1, 5), (1L, 2, 2), (2L, 0, 3), (4L, 0, 5), (4L, 1, 4)))
    // overlap: chunk 1 of doc 1 starts at token 5 (w5) — verify via md5
    val md5w = (s: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out.find(r => r._1 == 1L && r._2 == 1).get._4 ==
      md5w("w5 w6 w7 w8 w9"))
    // no shuffle: pure projection + explode
    val plan = TextOps.chunkTokens(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "chunking must not shuffle")
  }

  test("vocabulary: tf/df counts, minDf floor, deterministic topK cut") {
    val df = Seq(
      (1L, "a a b c"), (2L, "a b d"), (3L, "a b x")).toDF("doc_id", "text")
    // tf: a=4 b=3 c=1 d=1 x=1; df: a=3 b=3 c=1 d=1 x=1
    val full = TextOps.vocabulary(df).orderBy($"n".desc, $"token")
      .as[(String, Long, Long)].collect()
    assert(full.toSeq == Seq(("a", 4L, 3L), ("b", 3L, 3L),
      ("c", 1L, 1L), ("d", 1L, 1L), ("x", 1L, 1L)))
    val floored = TextOps.vocabulary(df, minDf = 2)
      .as[(String, Long, Long)].collect().map(_._1).sorted
    assert(floored.toSeq == Seq("a", "b"))
    // topK=3 cuts inside the n=1 tie group: token order decides (c, then d)
    val cut = TextOps.vocabulary(df, topK = 3)
      .as[(String, Long, Long)].collect().map(_._1)
    assert(cut.toSeq == Seq("a", "b", "c"))
  }

  test("lexicalDiversity: exact counts on a constructed histogram") {
    // "a a a b b c": n=6, types=3, rep=3*2+2*1=8, hapax=1
    val df = Seq((1L, "a a a b b c"), (2L, "solo"), (3L, " ")).toDF("doc_id", "text")
    val out = TextOps.lexicalDiversity(df).orderBy($"doc_id")
      .as[(Long, Long, Long, Double, Double, Long)].collect()
    assert(out.length == 2, "empty doc must produce no row")
    assert(out(0) == ((1L, 6L, 3L, 0.5, 0.266667, 1L))) // 8/30 rounded 6dp
    assert(out(1) == ((2L, 1L, 1L, 1.0, 0.0, 1L))) // n=1: simpson defined 0
  }

  test("unigramLogProb: hand-computed smoothed nll, OOV slot, empty docs") {
    // model corpus: "a a b" → counts a=2, b=1; T=3, V=2, α=1
    // p(a)=(2+1)/(3+3)=0.5  p(b)=(1+1)/6=1/3  p(OOV)=(0+1)/6=1/6
    val model = TextOps.unigramModel(Seq("a a b").toDF("text"))
    val docs = Seq((1L, "a b"), (2L, "z"), (3L, "")).toDF("doc_id", "text")
    val out = TextOps.unigramLogProb(docs, model).orderBy($"doc_id")
      .as[(Long, Long, Double)].collect()
    assert(out.length == 2, "empty doc must produce no row")
    val nll1 = -(math.log(0.5) + math.log(1.0 / 3)) / 2
    assert(out(0) == ((1L, 2L,
      BigDecimal(nll1).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    val nllOov = -math.log(1.0 / 6)
    assert(out(1) == ((2L, 1L,
      BigDecimal(nllOov).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("dedupSegments: first occurrence wins, boilerplate df cap, reassembly") {
    // doc 1 owns lines A,B; doc 2 repeats A (dropped — first occurrence is
    // doc 1) and within-doc repeats its own C (second copy dropped);
    // doc 3 is all-duplicates → empty text but still one output row;
    // line Z appears in 4 docs → dropped EVERYWHERE under maxDf=3
    val docs = Seq(
      (1L, "A\nB\nZ"), (2L, "A\nC\nC\nZ"), (3L, "B\nA\nZ"), (4L, "Z\nD"))
      .toDF("doc_id", "text")
    val out = TextOps.dedupSegments(docs, sep = "\n", maxDf = 3)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, "A\nB", 2L, 3L),
      (2L, "C", 1L, 4L),
      (3L, "", 0L, 3L),
      (4L, "D", 1L, 2L)))
    // first occurrence is (lowest doc, lowest POSITION): a line repeated
    // later in the first doc survives only at its earliest slot
    val re = TextOps.dedupSegments(Seq((7L, "X\nY\nX")).toDF("doc_id", "text"))
      .as[(Long, String, Long, Long)].head()
    assert(re == ((7L, "X\nY", 2L, 3L)))
    // determinism across partitionings
    val shuffled = TextOps.dedupSegments(docs.repartition(7), sep = "\n",
      maxDf = 3).as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(shuffled == out)
    intercept[IllegalArgumentException] {
      TextOps.dedupSegments(docs, maxDf = 0)
    }
  }

  test("scriptMix: counts per BMP range, first-to-max tie-break") {
    val got = Seq(
      "abc 12 жжж 中中 مم",  // latin 3, digit 2, cyr 3, cjk 2, arab 2
      "жжж abc",             // 3-3 tie: latin wins (class order)
      "中中中中")             // pure CJK
      .toDF("text").select(TextOps.scriptMix($"text").as("m"))
      .select("m.n_latin", "m.n_digit", "m.n_cyrillic", "m.n_cjk",
        "m.n_arabic", "m.main_script")
      .collect()
    assert(got(0).toSeq == Seq(3, 2, 3, 2, 2, "latin"))
    assert(got(1).toSeq == Seq(3, 0, 3, 0, 0, "latin"))
    assert(got(2).toSeq == Seq(0, 0, 0, 4, 0, "cjk"))
  }

  test("weightedSample: deterministic, weight-proportional, no global sort") {
    val rows = (0 until 4000).map { i =>
      (i.toLong, s"doc $i", if (i % 2 == 0) 9.0 else 1.0)
    }.toDF("id", "content", "w")
    val pick = Sampling.weightedSample(rows, $"content", $"w", n = 400,
      tieBreak = $"id", salt = "t")
    val a = pick.select($"id").as[Long].collect().toSet
    val b = Sampling.weightedSample(rows, $"content", $"w", n = 400,
      tieBreak = $"id", salt = "t").select($"id").as[Long].collect().toSet
    assert(a == b, "same dials must return the same sample")
    // 9:1 weights ⇒ heavy rows dominate the sample (expectation ~0.9;
    // loose bound to stay noise-proof)
    val heavy = a.count(_ % 2 == 0)
    assert(heavy > 300, s"heavy rows underrepresented: $heavy/400")
    // a different salt resamples
    val c = Sampling.weightedSample(rows, $"content", $"w", n = 400,
      tieBreak = $"id", salt = "u").select($"id").as[Long].collect().toSet
    assert(a != c, "salt must drive the sample")
    // top-n must plan as TakeOrderedAndProject, not a global Sort+Limit
    val p = pick.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"not a distributed top-n:\n$p")
  }

  test("bloomContainment: no false negatives ever, FP rate bounded") {
    // eval = docs 0..49, train = eval docs verbatim (ids shifted) + 150
    // disjoint docs. Members MUST score containment 1.0 (the no-FN Bloom
    // guarantee is structural, not probabilistic); disjoint docs may see
    // FPs but the corpus FP fraction stays under the d12 gate's 2%.
    val ev = (0 until 50)
      .map(i => (i.toLong, s"alpha$i beta$i gamma$i delta$i epsilon$i"))
      .toDF("doc_id", "text")
    val members = ev.select((col("doc_id") + 1000).as("doc_id"), col("text"))
    val disjoint = (0 until 150)
      .map(i => (2000L + i, s"zeta$i eta$i theta$i iota$i kappa$i"))
      .toDF("doc_id", "text")
    val got = Dedup.bloomContainment(
      members.unionByName(disjoint), ev, n = 3, mBits = 1L << 16, k = 5)
    assert(got.filter(col("doc_id") < 2000 && col("containment") < 1.0)
      .isEmpty, "a member doc lost a shingle: Bloom false negative")
    val fp = got.filter(col("doc_id") >= 2000)
      .agg(sum("n_hit").cast("double") / sum("n_sh")).collect()(0).getDouble(0)
    assert(fp <= 0.02, s"disjoint-corpus FP rate $fp above the d12 gate")
    // and the words table really is sparse + bounded: <= mBits/64 rows
    val words = Dedup.bloomWords(ev.select(xxhash64(col("text")).as("shingle")))
    assert(words.count() <= (1L << 24) / 64)
  }

  test("canonicalizeUrl: every rule pinned") {
    val cases = Seq(
      // fragment, case, default https port, tracking params, param sort,
      // trailing slash — the full dirty form
      ("HTTPS://Site.Example.ORG:443/Docs/3/?b=2&utm_source=f&a=1&fbclid=z#top",
        "https://site.example.org/Docs/3?a=1&b=2"),
      // http default port stripped; https port on http scheme KEPT
      ("http://a.com:80/x", "http://a.com/x"),
      ("http://a.com:443/x", "http://a.com:443/x"),
      // non-default port kept
      ("https://a.com:8443/x", "https://a.com:8443/x"),
      // unknown scheme: port untouched, host still lowercased
      ("ftp://Host.Com:80/f", "ftp://host.com:80/f"),
      // root path normalizes to '/', bare host gains it
      ("https://a.com/", "https://a.com/"),
      ("https://a.com", "https://a.com/"),
      // path case preserved; only ONE trailing slash stripped
      ("https://a.com/A/B//", "https://a.com/A/B/"),
      // all params tracking ⇒ no '?' at all
      ("https://a.com/x?utm_a=1&ref=h&gclid=2", "https://a.com/x"),
      // empty params dropped, rest sorted
      ("https://a.com/x?z=1&&a=2", "https://a.com/x?a=2&z=1"))
    val got = cases.map(_._1).toDF("u")
      .select(TextOps.canonicalizeUrl($"u")).as[String].collect().toSeq
    got.zip(cases).foreach { case (g, (in, want)) =>
      assert(g == want, s"canonicalizeUrl($in) = $g, want $want")
    }
  }

  test("dedupSegments/capSample invariants: identity under no-op dials") {
    // globally-unique segments ⇒ byte-identical reassembly (round-trip
    // proves the split/sort/join pipeline loses nothing and ordering is
    // stable), every segment kept
    val uniq = (1 to 50).map(i =>
      (i.toLong, s"seg${i}a\nseg${i}b\nseg${i}c")).toDF("doc_id", "text")
    val id = TextOps.dedupSegments(uniq, sep = "\n")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(id.forall { case (i, t, k, n) =>
      t == s"seg${i}a\nseg${i}b\nseg${i}c" && k == 3L && n == 3L })
    // cap at/above every stratum size ⇒ capSample is the identity
    val docs = (1 to 300).map(i => (i.toLong, s"d${i % 5}", s"body $i"))
      .toDF("doc_id", "domain", "text")
    assert(Sampling.capSample(docs, col("text"), col("domain"), cap = 60)
      .count() == 300L)
    assert(Sampling.capSample(docs, col("text"), col("domain"), cap = 1000000)
      .count() == 300L)
  }

  test("packStreaming: shardHexWidth widens the fan-out and refines shards") {
    val df = (1L to 4000L).toDF("doc_id")
      .withColumn("n", (col("doc_id") % 7 + 1).cast("long"))
    val w1 = Packing.packStreaming(df, col("doc_id"), col("n"), window = 10)
      .select(col("doc_id"), col("shard").as("s1"))
    val w2 = Packing.packStreaming(df, col("doc_id"), col("n"), window = 10,
        shardHexWidth = 2)
      .select(col("doc_id"), col("shard").as("s2"), col("n"), col("bin"))
    val joined = w1.join(w2, "doc_id")
      .as[(Long, String, String, Long, Long)].collect()
    // width-2 shards REFINE width-1 shards (same keying hash, longer prefix)
    assert(joined.forall { case (_, s1, s2, _, _) =>
      s1.length == 1 && s2.length == 2 && s2.startsWith(s1) })
    val n2 = joined.map(_._3).distinct.length
    assert(n2 > 16 && n2 <= 256, s"expected >16 width-2 shards, got $n2")
    // the packing rule holds per width-2 shard too
    joined.groupBy(_._3).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._1).foreach { case (id, _, _, n, bin) =>
        assert(bin == cum / 10, s"doc $id: bin $bin, cum-before $cum")
        cum += n
      }
    }
  }

  test("qualityTopQ: exact row_number semantics without a per-stratum sort") {
    import org.apache.spark.sql.expressions.{Window => W}
    // skewed strata (90% 'en') + deliberate score ties ACROSS the k cutoff:
    // score = id%5 gives 5 distinct values per stratum, so the boundary
    // group straddles k and the tie-break path is exercised
    val df = (1L to 1000L).toDF("id")
      .withColumn("lang", when($"id" % 10 === 0, "de").otherwise("en"))
      .withColumn("score", ($"id" % 5).cast("double"))
    val got = TextOps.qualityTopQ(df, $"lang", $"score", $"id", q = 0.25)
      .select($"id", $"lang", $"score", $"rk")
    // bucketed tie decomposition: same exact result through the
    // three-level rank (score group + tie bucket + in-bucket row_number)
    val gotB = TextOps.qualityTopQ(df, $"lang", $"score", $"id", q = 0.25,
        tieBucket = Some(floor($"id" / 64)))
      .select($"id", $"lang", $"score", $"rk")
    val want = df
      .withColumn("rk", row_number().over(
        W.partitionBy($"lang").orderBy($"score".desc, $"id")).cast("bigint"))
      .withColumn("n", count(lit(1)).over(W.partitionBy($"lang")))
      .filter($"rk" <= ceil($"n" * 0.25))
      .select($"id", $"lang", $"score", $"rk")
    assert(got.count() === want.count())
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    assert(gotB.except(want).isEmpty && want.except(gotB).isEmpty)
    // scale shape: no window partitioned by the stratum ALONE over raw
    // rows. The only single-column window allowed is the cumulative count
    // whose DIRECT input is the distinct-score Aggregate; the window that
    // touches raw rows must partition by (stratum, score) tie groups.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LW}
    val wins = got.queryExecution.optimizedPlan.collect { case w: LW => w }
    assert(wins.exists(_.partitionSpec.length >= 2),
      "expected a tie-group window partitioned by (stratum, score)")
    wins.filter(_.partitionSpec.length < 2).foreach { w =>
      def firstNonUnary(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
          : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = p match {
        case a: Aggregate => a
        case u if u.children.length == 1 => firstNonUnary(u.children.head)
        case other => other
      }
      assert(firstNonUnary(w.child).isInstanceOf[Aggregate],
        s"stratum-alone window must read the distinct-score aggregate, got:\n$w")
    }
  }

  test("tfidfTopTerms: tf/df/idf exact on a hand-computed corpus") {
    val corpus = Seq(
      (1L, "apple apple banana cherry"),
      (2L, "banana cherry cherry cherry"),
      (3L, "apple date date date")).toDF("doc_id", "text")
    val out = TextOps.tfidfTopTerms(corpus, k = 2, minDf = 1)
      .orderBy($"doc_id", $"rank")
      .as[(Long, Int, String, Long, Long, Double)].collect()
    // N=3; idf(df) = ln(4/(df+1)) + 1; apple df=2, banana df=2, cherry df=2,
    // date df=1
    def idf(df: Long) = math.log(4.0 / (df + 1)) + 1
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    // doc1: apple tf2 beats banana/cherry tf1 (tie on tfidf -> token asc)
    assert(out(0) == ((1L, 1, "apple", 2L, 2L, r4(2 * idf(2)))))
    assert(out(1) == ((1L, 2, "banana", 1L, 2L, r4(idf(2)))))
    // doc3: date tf3 idf(1) beats apple tf1
    assert(out(4) == ((3L, 1, "date", 3L, 1L, r4(3 * idf(1)))))
    assert(out(5) == ((3L, 2, "apple", 1L, 2L, r4(idf(2)))))
  }

  test("bm25: more query-term mass ranks higher; scores hand-checked") {
    val corpus = Seq(
      (1L, "join join join filter scan"),
      (2L, "join filter scan sort agg"),
      (3L, "sort agg window merge group")).toDF("doc_id", "text")
    val out = TextOps.bm25(corpus, Seq("join"), topN = 10)
      .orderBy($"bm25".desc, $"doc_id")
      .as[(Long, Long, Long, Double)].collect()
    // only docs 1 and 2 contain the term; doc1 has higher tf at equal dl
    assert(out.map(_._1).toSeq == Seq(1L, 2L))
    val idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
    def w(tf: Long) = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * 5.0 / 5.0))
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    assert(out(0) == ((1L, 1L, 5L, r4(w(3)))))
    assert(out(1) == ((2L, 1L, 5L, r4(w(1)))))
  }

  test("CMS: never undercounts, exact without collisions, shards merge") {
    import graft.llm.Sketches
    val items = (1 to 200).map(i => s"tok${i % 10}").toDF("item")
    val sketch = Sketches.cmsTable(items, "item", depth = 4, width = 256)
    val est = Sketches.cmsLookup(items.distinct(), sketch, "item",
      depth = 4, width = 256)
      .as[(String, Long)].collect().toMap
    // 10 distinct items into 256 cols x 4 rows: min-over-rows is exact
    // unless every row collides — with these dials all are exact
    (0 to 9).foreach { i => assert(est(s"tok$i") == 20L) }
    // mergeability: cellwise sum of two shard sketches == whole sketch
    val shardSum = Sketches.cmsTable(items.limit(100), "item", 4, 256)
      .union(Sketches.cmsTable(items.limit(100), "item", 4, 256))
      .groupBy("row", "col").agg(sum("n").as("n"))
    val whole = Sketches.cmsTable(items.limit(100).union(items.limit(100)),
      "item", 4, 256)
    assert(shardSum.except(whole).isEmpty && whole.except(shardSum).isEmpty)
  }

  test("temperatureMix: flattens a skewed mix toward the budget") {
    // 800 'big' vs 100 'small': tau=2 gives sqrt-proportional budgets
    val rows = (1 to 900).map(i =>
      (i.toLong, if (i <= 800) "big" else "small", s"content-$i"))
      .toDF("id", "stratum", "content")
    val out = Sampling.temperatureMix(rows, $"content", $"stratum",
        tau = 2.0, targetRows = 300, salt = "t")
      .groupBy($"stratum").count().as[(String, Long)].collect().toMap
    // expectations: z = sqrt(800)+sqrt(100) = 38.28; big's budget is
    // 300*(28.28/38.28) = 221.6 (rate 0.277), small's is 300*(10/38.28)
    // = 78.4 (rate 0.784 < 1 -> thinned, NOT kept whole)
    assert(out("small") > 60L && out("small") < 95L,
      s"small stratum should thin toward ~78: $out")
    assert(out("big") > 150L && out("big") < 290L,
      s"big stratum should flatten toward ~222: $out")
    // deterministic: same dials, same rows
    val again = Sampling.temperatureMix(rows, $"content", $"stratum",
        tau = 2.0, targetRows = 300, salt = "t")
      .groupBy($"stratum").count().as[(String, Long)].collect().toMap
    assert(again == out)
  }

  test("temperatureMix: a stratum whose budget exceeds its size keeps all") {
    // same mix, targetRows=400: small's budget is 400*(10/38.28) = 104.5
    // > 100 rows -> rate caps at 1.0 -> every small row survives
    val rows = (1 to 900).map(i =>
      (i.toLong, if (i <= 800) "big" else "small", s"content-$i"))
      .toDF("id", "stratum", "content")
    val out = Sampling.temperatureMix(rows, $"content", $"stratum",
        tau = 2.0, targetRows = 400, salt = "t")
      .groupBy($"stratum").count().as[(String, Long)].collect().toMap
    assert(out("small") == 100L, s"small stratum should keep all: $out")
    // big's budget is 400*(28.28/38.28) = 295.5 (rate 0.369)
    assert(out("big") > 220L && out("big") < 370L,
      s"big stratum should thin toward ~295: $out")
  }

  test("bigramLogProb: hand-computed smoothed conditionals, order sensitivity") {
    import graft.llm.TextOps
    // reference: "a b a b a" -> bigrams ab, ba, ab, ba -> n(a,b)=2, n(b,a)=2
    // ctx(a)=2, ctx(b)=2, V = |{a,b}| = 2
    val ref = Seq((1L, "a b a b a")).toDF("doc_id", "text")
    val model = TextOps.bigramModel(ref)
    val got = model.as[(String, String, Long)].collect().toSet
    assert(got == Set(("a", "b", 2L), ("b", "a", 2L)))
    // targets: in-order text scores LOW, scrambled pairs score HIGH,
    // single-token and empty docs produce no row
    val docs = Seq(
      (10L, "a b a"),      // bigrams ab, ba: seen
      (11L, "b b a a"),    // bb (unseen succ), ba (seen), aa (unseen)
      (12L, "a"), (13L, "")).toDF("doc_id", "text")
    val out = TextOps.bigramLogProb(docs, model, alpha = 1.0)
      .orderBy($"doc_id").as[(Long, Long, Double)].collect()
    def nll(n: Long, cn: Long) = -math.log((n + 1.0) / (cn + 3.0))
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    assert(out.map(_._1).toSeq == Seq(10L, 11L))
    assert(out(0) == ((10L, 2L, r4((nll(2, 2) + nll(2, 2)) / 2))))
    assert(out(1) == ((11L, 3L,
      r4((nll(0, 2) + nll(2, 2) + nll(0, 2)) / 3))))
    // order sensitivity: the in-order doc is strictly more probable
    assert(out(0)._3 < out(1)._3)
  }

  test("gopherRules: each rule pinned on constructed documents") {
    val good = (Seq("the", "quick", "brown", "fox", "jumps", "over", "it",
      "and") ++ (1 to 20).map(i => s"word$i")).mkString(" ")   // 28 words
    val docs = Seq(
      (1L, good),                                   // passes every rule
      (2L, "short text"),                           // < 20 words
      (3L, ("the it and " + Seq.fill(25)("#x#").mkString(" "))), // symbols
      (4L, (1 to 30).map(_ => "12345").mkString(" ")), // no alpha words
      (5L, ""),                                     // empty -> all false
      (6L, (1 to 15).map(i => s"- bullet line $i the it\n").mkString) // bullets
    ).toDF("doc_id", "text")
    val out = graft.llm.TextOps.gopherRules(docs, minWords = 20)
      .orderBy($"doc_id").collect()
    def row(i: Int) = out(i)
    assert(row(0).getAs[Boolean]("pass"), s"doc1 should pass: ${row(0)}")
    assert(!row(1).getAs[Boolean]("r_word_count") &&
      !row(1).getAs[Boolean]("pass"))
    assert(!row(2).getAs[Boolean]("r_symbol_ratio"), s"${row(2)}")
    assert(!row(3).getAs[Boolean]("r_alpha_words") &&
      !row(3).getAs[Boolean]("r_stopwords"))
    // empty doc: every rule false, n_words 0, mean_word_len 0
    assert(row(4).getAs[Long]("n_words") == 0L &&
      row(4).getAs[Double]("mean_word_len") == 0.0 &&
      !row(4).getAs[Boolean]("pass"))
    // 15 of 16 lines (the split's trailing empty counts) start with '-':
    // 0.9375 > 0.9 -> bullet rule fails; word count (90) and stopwords pass
    assert(!row(5).getAs[Boolean]("r_bullet_lines"), s"${row(5)}")
    assert(row(5).getAs[Boolean]("r_word_count") &&
      row(5).getAs[Boolean]("r_stopwords"))
  }

  test("compression signal: repetition compresses, doubling is near-free") {
    import graft.llm.CompressionSignal
    val rep = "ab" * 500                       // maximally self-similar
    val mixed = (1 to 200).map(i => s"w${i * 7 % 97}").mkString(" ")
    val out = CompressionSignal.signals(
        Seq((1L, rep), (2L, mixed)).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val (_, rawR, defR, def2R) = out(0)
    val (_, rawM, defM, _) = out(1)
    assert(rawR == 1000L && rawM == mixed.getBytes("UTF-8").length.toLong)
    // repetitive text compresses an order of magnitude; varied text doesn't
    assert(defR < rawR / 10, s"repetition not detected: defR=$defR rawR=$rawR")
    assert(defM > defR * 5, s"signal has no contrast: rep=$defR varied=$defM")
    // a second copy of the same content is nearly free under LZ77
    assert(def2R < defR + 16, s"doubling not near-free: $defR -> $def2R")
    // and never inflates past the stored-block bound
    assert(out.forall { case (_, raw, d, _) => d <= raw + 32 })
  }

  test("packStreaming: bins follow the cumulative-window rule within shards") {
    val df = (1L to 60L).toDF("doc_id")
      .withColumn("n", (col("doc_id") % 7 + 1).cast("long"))
    val out = Packing.packStreaming(df, col("doc_id"), col("n"), window = 10)
      .select(col("doc_id"), col("n"), col("shard"), col("bin"))
      .as[(Long, Long, String, Long)].collect()
    assert(out.length == 60)
    // recompute the rule per shard: cumsum in doc_id order, bin = before/W
    out.groupBy(_._3).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._1).foreach { case (id, n, _, bin) =>
        assert(bin == cum / 10, s"doc $id: bin $bin, cum-before $cum")
        cum += n
      }
    }
  }

  test("tokenBudget: decomposed form equals the window form, incl. modal scores and zero tokens") {
    // 3 strata; stratum "b" is dominated by one MODAL score whose tie
    // group straddles the budget boundary; zero-token docs sit both inside
    // and beyond the boundary; stratum "c" fits entirely under budget
    val rows = (1L to 200L).map { i =>
      val g = if (i <= 80) "a" else if (i <= 180) "b" else "c"
      val score = if (g == "b") 5.0 else (i % 7).toDouble // modal score in b
      val tok = if (i % 11 == 0) 0L else (i % 13) + 1L    // some zero-token docs
      (i, g, score, tok)
    }
    val df = rows.toDF("doc_id", "g", "score", "n_tok")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("score").desc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    for (budget <- Seq(50L, 200L, 1000L, 100000L)) {
      val expected = df.withColumn("__c", sum(col("n_tok")).over(w))
        .filter(col("__c") <= budget).drop("__c")
        .as[(Long, String, Double, Long)].collect().toSet
      val plain = Sampling.tokenBudget(df, col("g"), col("n_tok"),
          col("score"), col("doc_id"), budget)
        .as[(Long, String, Double, Long)].collect().toSet
      val bucketed = Sampling.tokenBudget(df, col("g"), col("n_tok"),
          col("score"), col("doc_id"), budget,
          tieBucket = Some(floor(col("doc_id") / 16)))
        .as[(Long, String, Double, Long)].collect().toSet
      assert(plain == expected, s"plain mismatch at budget $budget")
      assert(bucketed == expected, s"bucketed mismatch at budget $budget")
    }
  }

  test("DedupStore: append is replay-idempotent, reads see only committed segments") {
    import graft.llm.DedupStore
    val root = java.nio.file.Files.createTempDirectory("fpstore").toString
    val hist = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    assert(DedupStore.appendFingerprints(spark, root, 0L,
      Dedup.fingerprintStore(hist)))
    val n0 = DedupStore.readFingerprints(spark, root).count()
    assert(n0 == 2)
    val batch = Seq((10L, "ALPHA  beta gamma"), (11L, "fresh content here"))
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalExact(batch,
      DedupStore.readFingerprints(spark, root)).localCheckpoint()
    assert(kept.count() == 1) // only the fresh doc survives
    // first append commits, the replay is a no-op and the store is unchanged
    assert(DedupStore.appendFingerprints(spark, root, 1L, kept))
    assert(!DedupStore.appendFingerprints(spark, root, 1L, kept))
    assert(DedupStore.readFingerprints(spark, root).count() == n0 + 1)
    assert(DedupStore.committedBatches(spark, root) == Seq(0L, 1L))
    // an UNMARKED segment (crash between data and marker) is invisible
    Seq("orphan").toDF("fp").write
      .parquet(s"$root/segments/99")
    assert(DedupStore.readFingerprints(spark, root).count() == n0 + 1)
    assert(DedupStore.committedBatches(spark, root) == Seq(0L, 1L))
  }

  test("DedupStore.compact: folds segments, retires olds, heals a mid-crash duplicate state") {
    import graft.llm.DedupStore
    val root = java.nio.file.Files.createTempDirectory("fpcompact").toString
    for (b <- 0L to 2L)
      assert(DedupStore.appendFingerprints(spark, root, b,
        Seq(s"fp_a$b", s"fp_b$b").toDF("fp")))
    val before = DedupStore.readFingerprints(spark, root)
      .as[String].collect().sorted.toSeq
    assert(before.size == 6)
    def rows(): Seq[String] =
      DedupStore.readFingerprints(spark, root).as[String].collect().sorted.toSeq
    // the crash window between the fold's marker commit and its retire
    // pass, built for real: the sources (dirs + markers) are copied aside,
    // compacted, then restored — sources and fold are both committed
    val conf = spark.sessionState.newHadoopConf()
    val f = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    val aside = java.nio.file.Files.createTempDirectory("fpcompact_aside")
    val sources = (0 to 2).flatMap(b => Seq(s"segments/$b", s"done-$b"))
    def copy(from: String, to: String): Unit = sources.foreach { rel =>
      val dst = new org.apache.hadoop.fs.Path(to, rel)
      f.delete(dst, true)
      org.apache.hadoop.fs.FileUtil.copy(f,
        new org.apache.hadoop.fs.Path(from, rel), f, dst, false, conf)
    }
    copy(root, aside.toString)
    val newId = DedupStore.compact(spark, root)
    // merged segments land in the RESERVED id space appends can't use, so
    // a compact's data dir can never collide with an in-flight append's
    assert(newId == DedupStore.CompactBase)
    assert(rows() == before)
    copy(aside.toString, root)
    // the fold holds the restored sources: reads see each row once …
    assert(rows() == before, "a source the fold holds was read twice")
    // … and a re-run finishes the retire pass instead of re-folding them
    assert(DedupStore.compact(spark, root) == newId)
    assert(rows() == before)
    assert((0 to 2).forall(b => !f.exists(
      new org.apache.hadoop.fs.Path(root, s"segments/$b"))))
    // the folded ingest ids keep their markers: the replay ledger
    assert(DedupStore.committedBatches(spark, root) == Seq(0L, 1L, 2L, newId))
    assert(!DedupStore.appendFingerprints(spark, root, 1L,
      Seq("fp_a1").toDF("fp")), "a folded batch's replay must no-op")
    assert(rows() == before)
  }

  test("DedupStore.compact row-group stitch: one fold file with the " +
    "sources' blocks copied verbatim, empty replay markers contribute " +
    "nothing, schema drift falls back to rewrite") {
    import graft.llm.DedupStore
    import org.apache.parquet.hadoop.ParquetFileReader
    val root = java.nio.file.Files.createTempDirectory("fpstitch").toString
    val conf = spark.sessionState.newHadoopConf()
    def segFilesOf(r: String): Seq[java.io.File] = {
      val segRoot = new java.io.File(r, "segments")
      val segs = Option(segRoot.listFiles).map(_.toSeq).getOrElse(Nil)
        .filter(_.isDirectory)
      segs.flatMap(d => Option(d.listFiles).map(_.toSeq).getOrElse(Nil)
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")))
    }
    def foldFiles(): Seq[java.io.File] = segFilesOf(root)
    def blocksOf(f: java.io.File): Int =
      ParquetFileReader.readFooter(conf,
        new org.apache.hadoop.fs.Path(f.getPath)).getBlocks.size()
    val rows = Seq((1L, "x"), (2L, "y")).toDF("id", "v").coalesce(1)
    assert(DedupStore.append(spark, root, 0L, rows))
    assert(DedupStore.append(spark, root, 1L, rows.limit(0))) // empty marker
    assert(DedupStore.append(spark, root, 2L,
      Seq((3L, "z")).toDF("id", "v").coalesce(1)))
    val before = DedupStore.read(spark, root).as[(Long, String)]
      .collect().sorted.toSeq
    DedupStore.compact(spark, root)
    val fold1 = foldFiles()
    assert(fold1.size == 1 && fold1.head.getName == "part-stitched.parquet",
      s"the fold must be ONE stitched file (got ${fold1.map(_.getName)})")
    // nonempty source files contribute their row groups verbatim; the
    // empty marker segment's file holds zero blocks
    assert(blocksOf(fold1.head) == 2,
      s"stitched fold must hold the two nonempty sources' row groups " +
        s"(got ${blocksOf(fold1.head)})")
    assert(DedupStore.read(spark, root).as[(Long, String)]
      .collect().sorted.toSeq == before)
    // a re-compact with a new segment stitches the fold's blocks forward
    assert(DedupStore.append(spark, root, 5L,
      Seq((9L, "w")).toDF("id", "v").coalesce(1)))
    DedupStore.compact(spark, root)
    val fold2 = foldFiles()
    assert(fold2.size == 1 && blocksOf(fold2.head) == 3)
    assert(DedupStore.read(spark, root).count() == 4)
    // schema drift (reordered columns) cannot stitch — rewrite, rows exact
    val root2 = java.nio.file.Files.createTempDirectory("fpstitch2").toString
    assert(DedupStore.append(spark, root2, 0L, rows))
    assert(DedupStore.append(spark, root2, 1L,
      Seq(("z", 3L)).toDF("v", "id").coalesce(1)))
    DedupStore.compact(spark, root2)
    val fold3 = segFilesOf(root2)
    assert(!fold3.exists(_.getName == "part-stitched.parquet"),
      "reordered-column segments must take the rewrite path")
    assert(DedupStore.read(spark, root2).select($"id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("DedupStore.compact reads each source footer once: a stitched fold " +
    "of four segments opens a source twice, an empty one once") {
    import graft.llm.DedupStore
    val root = java.nio.file.Files.createTempDirectory("fpopens").toString
    for (b <- 0L to 2L)
      assert(DedupStore.append(spark, root, b,
        Seq((b, s"v$b")).toDF("id", "v").coalesce(1)))
    assert(DedupStore.append(spark, root, 3L,
      Seq((9L, "e")).toDF("id", "v").limit(0).coalesce(1)))
    def dataFiles(): Seq[java.io.File] =
      new java.io.File(root, "segments").listFiles.toSeq
        .filter(_.isDirectory).flatMap(_.listFiles.toSeq)
        .filter(f => f.getName.endsWith(".parquet") &&
          !f.getName.startsWith("."))
    val sources = dataFiles().map(_.getPath)
    assert(sources.size == 4)
    OpenCountingFs.opens.clear()
    spark.conf.set("fs.file.impl", classOf[OpenCountingFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try DedupStore.compact(spark, root)
    finally {
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
    assert(dataFiles().map(_.getName) == Seq("part-stitched.parquet"))
    // one footer read per source, one row-group copy per non-empty one
    // (each footer was read twice when a separate gate decided first)
    val opens = sources.map(p =>
      p -> OpenCountingFs.opens.getOrDefault(p, 0).toInt).toMap
    val expected = sources.map(p =>
      p -> (if (p.contains("/segments/3/")) 1 else 2)).toMap
    assert(opens == expected, s"opens per source: $opens")
  }

  test("DedupStore.readAsOf: exact history slices; compaction folds carry provenance or refuse") {
    import graft.llm.DedupStore
    val root = java.nio.file.Files.createTempDirectory("fpasof").toString
    for (b <- 0L to 2L)
      assert(DedupStore.appendFingerprints(spark, root, b,
        Seq(s"fp_a$b", s"fp_b$b").toDF("fp")))
    def fps(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.as[String].collect().sorted.toSeq
    // plain slices: as-of N = segments <= N, exactly
    assert(fps(DedupStore.readAsOf(spark, root, 0L))
      == Seq("fp_a0", "fp_b0"))
    assert(fps(DedupStore.readAsOf(spark, root, 1L))
      == Seq("fp_a0", "fp_a1", "fp_b0", "fp_b1"))
    assert(fps(DedupStore.readAsOf(spark, root, 2L))
      == fps(DedupStore.readFingerprints(spark, root)))
    // between commits: a missing middle batch is "not yet there", never an
    // error — as-of is a point on the ingest timeline, not a lookup
    assert(DedupStore.appendFingerprints(spark, root, 5L,
      Seq("fp_late").toDF("fp")))
    assert(fps(DedupStore.readAsOf(spark, root, 3L))
      == Seq("fp_a0", "fp_a1", "fp_a2", "fp_b0", "fp_b1", "fp_b2"))
    // no committed segment at or before the asked point: loud, not empty
    val early = intercept[IllegalArgumentException] {
      DedupStore.readAsOf(spark, root, -1L)
    }
    assert(early.getMessage.contains("at or before"), early.getMessage)
    // compaction: the fold carries an _upto provenance sidecar, so as-of
    // AT or AFTER the folded history reads the fold (membership preserved)
    val fold = DedupStore.compact(spark, root)
    assert(fold >= DedupStore.CompactBase)
    assert(fps(DedupStore.readAsOf(spark, root, 5L))
      == fps(DedupStore.readFingerprints(spark, root)))
    // … and as-of BELOW the fold refuses loudly — collapsed history is
    // never silently approximated as empty or as the whole fold
    val e = intercept[IllegalStateException] {
      DedupStore.readAsOf(spark, root, 2L)
    }
    assert(e.getMessage.contains("cannot be reconstructed"), e.getMessage)
    // provenance carries FORWARD through re-compaction: append + re-fold,
    // the new fold's floor is the new append's id
    assert(DedupStore.appendFingerprints(spark, root, 7L,
      Seq("fp_more").toDF("fp")))
    val fold2 = DedupStore.compact(spark, root)
    assert(fps(DedupStore.readAsOf(spark, root, 7L))
      == fps(DedupStore.readFingerprints(spark, root)))
    val e2 = intercept[IllegalStateException] {
      DedupStore.readAsOf(spark, root, 6L)
    }
    assert(e2.getMessage.contains(s"fold $fold2"), e2.getMessage)
    // a legacy fold WITHOUT the sidecar refuses below its id rather than
    // guessing what it holds
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    f.listStatus(new org.apache.hadoop.fs.Path(s"$root/segments/$fold2"))
      .filter(_.getPath.getName.startsWith("_upto-"))
      .foreach(st => f.delete(st.getPath, false))
    val e3 = intercept[IllegalStateException] {
      DedupStore.readAsOf(spark, root, 7L)
    }
    assert(e3.getMessage.contains("predates provenance"), e3.getMessage)
    assert(fps(DedupStore.readAsOf(spark, root, fold2))
      == fps(DedupStore.readFingerprints(spark, root)),
      "as-of at the fold id itself stays readable even without provenance")
    // folding a provenance-less legacy fold together with NEW ingests must
    // NOT stamp a sidecar from the new ids alone: the legacy fold holds
    // unprovable history, so the result stays provenance-less and readAsOf
    // keeps refusing below the new fold id instead of serving a wrong slice
    assert(DedupStore.appendFingerprints(spark, root, 9L,
      Seq("fp_after_legacy").toDF("fp")))
    val fold3 = DedupStore.compact(spark, root)
    assert(f.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/segments/$fold3"))
      .forall(!_.getPath.getName.startsWith("_upto-")),
      "a fold containing a provenance-less legacy fold must not claim provenance")
    val e4 = intercept[IllegalStateException] {
      DedupStore.readAsOf(spark, root, 9L)
    }
    assert(e4.getMessage.contains("predates provenance"), e4.getMessage)
  }

  test("DedupStore: compact/append exclusion — lease fails appends loud, stale lease reclaimed") {
    import graft.llm.DedupStore
    val root = java.nio.file.Files.createTempDirectory("fplease").toString
    for (b <- 0L to 1L)
      assert(DedupStore.appendFingerprints(spark, root, b,
        Seq(s"fp_$b").toDF("fp")))
    // simulate an in-flight compact: the lease file exists and is fresh
    val lease = new java.io.File(root, "compacting")
    assert(lease.createNewFile())
    // append during the maintenance window: FAILS LOUD, store unchanged —
    // never a silently-landed segment the compact's retire pass misses
    val err = intercept[IllegalStateException] {
      DedupStore.appendFingerprints(spark, root, 2L, Seq("fp_2").toDF("fp"))
    }
    assert(err.getMessage.contains("compaction in flight"))
    assert(DedupStore.committedBatches(spark, root) == Seq(0L, 1L))
    // a second compact against a fresh lease also fails loud
    val err2 = intercept[IllegalStateException] {
      DedupStore.compact(spark, root)
    }
    assert(err2.getMessage.contains("lease"))
    // stale lease (dead compactor): ages out and the append reclaims it
    assert(lease.setLastModified(
      System.currentTimeMillis() - 31L * 60 * 1000))
    assert(DedupStore.appendFingerprints(spark, root, 2L,
      Seq("fp_2").toDF("fp")))
    assert(!lease.exists())
    assert(DedupStore.committedBatches(spark, root) == Seq(0L, 1L, 2L))
    // a normal compact releases its lease and the loop continues
    val newId = DedupStore.compact(spark, root)
    assert(!lease.exists())
    assert(DedupStore.committedBatches(spark, root) == Seq(0L, 1L, 2L, newId))
    // next append id comes from the ORCHESTRATOR's space, not max+1 of the
    // store: compact ids are reserved and append rejects them
    val reserved = intercept[IllegalArgumentException] {
      DedupStore.appendFingerprints(spark, root, newId + 1,
        Seq("fp_3").toDF("fp"))
    }
    assert(reserved.getMessage.contains("reserved"))
    assert(DedupStore.appendFingerprints(spark, root, 100L,
      Seq("fp_3").toDF("fp")))
    assert(DedupStore.readFingerprints(spark, root).count() == 4)
  }

  test("DedupStore: lease acquired MID-append-write still fails the append loud") {
    import graft.llm.DedupStore
    val root = java.nio.file.Files.createTempDirectory("fpmidrace").toString
    assert(DedupStore.appendFingerprints(spark, root, 0L,
      Seq("fp_0").toDF("fp")))
    // rows whose EVALUATION drops the lease file: simulates a compact
    // acquiring the lease while append's write job is running — after the
    // first lease check passed but before the marker rename
    val leaseFile = new java.io.File(root, "compacting")
    val rows = Seq("fp_1").toDS().mapPartitions { it =>
      new java.io.File(root, "compacting").createNewFile(); it
    }.toDF("fp")
    val err = intercept[IllegalStateException] {
      DedupStore.appendFingerprints(spark, root, 1L, rows)
    }
    assert(err.getMessage.contains("compaction in flight"))
    // no marker committed: the segment debris is unmarked and invisible
    assert(DedupStore.committedBatches(spark, root) == Seq(0L))
    assert(DedupStore.readFingerprints(spark, root).count() == 1)
    assert(leaseFile.delete())
  }

  test("DedupStore: long compact heartbeats its lease past the stale ceiling") {
    import graft.llm.DedupStore
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val root = java.nio.file.Files.createTempDirectory("fplongcompact").toString
    for (b <- 0L to 15L)
      assert(DedupStore.appendFingerprints(spark, root, b,
        Seq(s"fp_$b").toDF("fp")))
    // a ceiling far shorter than the compact: without the heartbeat the
    // lease would age out mid-run and an append would reclaim it mid-compact
    spark.conf.set("spark.graft.lease.maxAgeMs", "400")
    try {
      val compacting = Future(DedupStore.compact(spark, root))
      val lease = new java.io.File(root, "compacting")
      val t0 = System.currentTimeMillis()
      while (!lease.exists() && !compacting.isCompleted &&
        System.currentTimeMillis() - t0 < 10000) Thread.sleep(5)
      Thread.sleep(600) // > the lease ceiling: a non-heartbeated lease is stale now
      if (!compacting.isCompleted) {
        // live compact, lease older than the ceiling by wall-clock — the
        // heartbeat must have kept it fresh, so the append still fails loud
        val err = intercept[IllegalStateException] {
          DedupStore.appendFingerprints(spark, root, 99L,
            Seq("fp_99").toDF("fp"))
        }
        assert(err.getMessage.contains("compaction in flight"))
      } // else: compact outran the sleep on this host — exclusion untestable,
        // but the fold/release assertions below still hold
      val newId = Await.result(compacting, 120.seconds)
      assert(!lease.exists())
      assert(DedupStore.committedBatches(spark, root) == (0L to 15L) :+ newId)
      assert(DedupStore.readFingerprints(spark, root).count() == 16)
    } finally spark.conf.unset("spark.graft.lease.maxAgeMs")
  }

  test("DedupStore near-dup: persisted sigs probe identically to the in-memory store") {
    import graft.llm.DedupStore
    val root = java.nio.file.Files.createTempDirectory("ndstore").toString
    val hist = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa extra"),
      (11L, "wholly novel words nothing shared with any history document at all"))
      .toDF("doc_id", "text")
    val (bandsMem, sigsMem) = Dedup.nearDupStore(hist)
    assert(DedupStore.appendNearDupSigs(spark, root, 0L, sigsMem))
    val viaDisk = Dedup.incrementalNearDup(batch,
        DedupStore.readNearDup(spark, root), threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    val viaMem = Dedup.incrementalNearDup(batch, (bandsMem, sigsMem),
        threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(viaDisk == viaMem)
    assert(viaDisk == Set((10L, true), (11L, false)))
    spark.catalog.clearCache() // cache contract: see Dedup scaladoc
  }

  test("DedupStore vectors: persisted store probes identically to the in-memory store") {
    import graft.llm.{DedupStore, Similarity}
    val root = java.nio.file.Files.createTempDirectory("vecstore").toString
    val dim = 8
    val a = Seq(1.0, 0.2, -0.5, 0.8, 0.1, -0.3, 0.6, 0.4)
    val b = Seq(-0.7, 0.9, 0.3, -0.2, 0.5, 0.1, -0.8, 0.6)
    val hist = Seq((1L, a), (2L, b)).toDF("vec_id", "embedding")
    val batch = Seq(
      (10L, a.map(_ + 0.001)),
      (11L, Seq(0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0))
    ).toDF("vec_id", "embedding")
    val storeMem = Similarity.embeddingStore(hist, dim)
    assert(DedupStore.appendVectors(spark, root, 0L, storeMem._2))
    def probe(store: (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)) =
      Similarity.incrementalEmbeddingNearDup(batch, store,
        threshold = 0.95, dim = dim)
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    val viaDisk = probe(DedupStore.readVectors(spark, root, dim))
    assert(viaDisk == probe(storeMem))
    assert(viaDisk == Set((10L, true), (11L, false)))
  }
}
