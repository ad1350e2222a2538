package graft

import org.apache.spark.sql.functions._
import graft.llm.{IndexStore, Similarity}

/** The persisted ANN index artifact ([[graft.llm.IndexStore]]): quantizer
  * roundtrip fidelity, commit-marker atomicity, replay idempotency, and —
  * the load-bearing claim — that a search over the persisted index returns
  * EXACTLY what the in-memory fit-per-query path returns at the same dials
  * and seed, whether the corpus was indexed in one segment or many. */
class IndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val inv = new java.util.concurrent.atomic.AtomicLong()
  private def freshRoot(): String = {
    val p = java.nio.file.Files.createTempDirectory("ixstore")
    s"$p/store${inv.incrementAndGet()}"
  }

  private def emb = Tables.t(spark, dir, "embeddings")

  test("quantizer roundtrips through parquet bit-exact; replay is a no-op") {
    val root = freshRoot()
    val rq = Similarity.fitResidualQuantizer(emb, dim = 64, nlist = 8,
      m = 8, codebookSize = 16, seed = 42L)
    assert(IndexStore.saveQuantizer(spark, root, rq))
    assert(!IndexStore.saveQuantizer(spark, root, rq), "replay must no-op")
    val back = IndexStore.loadQuantizer(spark, root)
    assert(back.dim == rq.dim && back.nlist == rq.nlist
      && back.m == rq.m && back.codebookSize == rq.codebookSize)
    // doubles roundtrip parquet BIT-exact — the loaded quantizer must
    // score identically, not approximately
    assert(back.centroids == rq.centroids)
    assert(back.cellMeans.map(_.toSeq).toSeq == rq.cellMeans.map(_.toSeq).toSeq)
    assert(back.codebooks.map(_.map(_.toSeq).toSeq).toSeq
      == rq.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("a crashed (never-published) quantizer save is invisible; retry commits") {
    val root = freshRoot()
    val rq = Similarity.fitResidualQuantizer(emb, dim = 64, nlist = 4,
      m = 4, codebookSize = 8, seed = 7L)
    // simulate a crash BEFORE the publishing rename: full staging data on
    // disk under a private tmp dir, final directory never appeared
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(IndexStore.saveQuantizer(spark, root, rq))
    assert(f.rename(new org.apache.hadoop.fs.Path(root, "quantizer"),
      new org.apache.hadoop.fs.Path(root, ".quantizer-tmp-crashed")))
    assert(!IndexStore.quantizerCommitted(spark, root))
    val e = intercept[IllegalArgumentException] {
      IndexStore.loadQuantizer(spark, root)
    }
    assert(e.getMessage.contains("no committed quantizer"), e.getMessage)
    // staging debris is inert — a retry (train) publishes and commits
    val again = IndexStore.train(spark, root, emb, dim = 64, nlist = 4,
      m = 4, codebookSize = 8, seed = 7L)
    assert(IndexStore.quantizerCommitted(spark, root))
    assert(again.centroids == rq.centroids, "deterministic refit")
    // age-gated debris sweep: a young staging dir survives (could be a
    // LIVE trainer), an aged one is reclaimed; the committed artifact is
    // untouched either way
    assert(IndexStore.recoverStaging(spark, root).isEmpty,
      "a young staging dir must never be swept")
    val swept = IndexStore.recoverStaging(spark, root, minAgeMs = 0L)
    assert(swept.size == 1 && swept.head.contains(".quantizer-tmp-crashed"),
      s"expected the crashed staging dir swept, got $swept")
    assert(IndexStore.quantizerCommitted(spark, root))
    assert(IndexStore.loadQuantizer(spark, root).centroids == rq.centroids)
  }

  test("a loser nested INSIDE the winner's artifact is detected and swept") {
    // the ADVICE r14 TOCTOU: Hadoop rename with an EXISTING destination
    // directory moves the source INSIDE it and returns true — so the
    // rename's return value cannot distinguish a win from a nested loss.
    // Reproduce the post-race state (winner committed, loser's staging
    // nested inside it) and verify (a) the committed artifact still loads
    // bit-exact, (b) the aged sweep reclaims the NESTED debris too (the
    // r14 sweep listed only the root level).
    val root = freshRoot()
    val rq = Similarity.fitResidualQuantizer(emb, dim = 64, nlist = 4,
      m = 4, codebookSize = 8, seed = 7L)
    assert(IndexStore.saveQuantizer(spark, root, rq))
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val loser = new org.apache.hadoop.fs.Path(root, ".quantizer-tmp-loser")
    f.mkdirs(loser)
    f.create(new org.apache.hadoop.fs.Path(loser, "attempt-loser"), true).close()
    // the racing rename: dst exists, so the loser's staging NESTS inside it
    assert(f.rename(loser, new org.apache.hadoop.fs.Path(root, "quantizer")))
    val nested = new org.apache.hadoop.fs.Path(root,
      "quantizer/.quantizer-tmp-loser")
    assert(f.exists(nested), "rename-into-existing-dst must nest the source")
    // the loser's token did NOT land at quantizer/attempt-loser — the
    // token protocol reads this as a loss, never a win
    assert(!f.exists(new org.apache.hadoop.fs.Path(root,
      "quantizer/attempt-loser")))
    // the committed artifact is unharmed by the nested debris
    assert(IndexStore.loadQuantizer(spark, root).centroids == rq.centroids)
    val swept = IndexStore.recoverStaging(spark, root, minAgeMs = 0L)
    assert(swept.exists(_.contains("quantizer/.quantizer-tmp-loser")),
      s"nested loser debris must be swept, got $swept")
    assert(!f.exists(nested))
    assert(IndexStore.quantizerCommitted(spark, root))
  }

  test("train is replay-idempotent: a committed store wins over a fresh fit") {
    val root = freshRoot()
    val first = IndexStore.train(spark, root, emb, dim = 64, nlist = 8,
      m = 8, codebookSize = 16, seed = 42L)
    // second trainer arrives with a DIFFERENT corpus slice and seed — the
    // committed artifact must win (one immutable quantizer per store)
    val second = IndexStore.train(spark, root, emb.filter($"vec_id" < 50),
      dim = 64, nlist = 8, m = 8, codebookSize = 16, seed = 99L)
    assert(second.centroids == first.centroids)
    assert(second.codebooks.map(_.map(_.toSeq).toSeq).toSeq
      == first.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("persisted-index search == in-memory fit-per-query search, and " +
      "segment splits are invisible") {
    val q = emb.filter($"vec_id" < 10)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int)] =
      df.select(col("query_id").cast("long"), col("corpus_id").cast("long"),
        col("rank").cast("int")).as[(Long, Long, Int)]
        .collect().sortBy(r => (r._1, r._3)).toSeq
    val inMem = rows(Similarity.ivfTopKPQResidual(spark, emb, q, k = 5,
      dim = 64, nlist = 8, nprobe = 3, m = 8, codebookSize = 16,
      rerank = 32, seed = 42L))

    // one-segment store
    val root1 = freshRoot()
    IndexStore.train(spark, root1, emb, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, seed = 42L)
    assert(IndexStore.appendCodes(spark, root1, 0L, emb))
    assert(!IndexStore.appendCodes(spark, root1, 0L, emb), "replay no-op")
    val oneSeg = rows(IndexStore.searchTopK(spark, root1, emb, q, k = 5,
      nprobe = 3, rerank = 32))
    assert(oneSeg == inMem,
      "persisted-index search must equal the fit-per-query path")

    // same corpus indexed as THREE batches — the segment layout must be
    // invisible to search results
    val root3 = freshRoot()
    IndexStore.train(spark, root3, emb, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, seed = 42L)
    (0 until 3).foreach { b =>
      assert(IndexStore.appendCodes(spark, root3, b.toLong,
        emb.filter($"vec_id" % 3 === b)))
    }
    val threeSeg = rows(IndexStore.searchTopK(spark, root3, emb, q, k = 5,
      nprobe = 3, rerank = 32))
    assert(threeSeg == inMem, "segment split changed search results")
  }

  test("compactCodes folds segments without changing search results") {
    val q = emb.filter($"vec_id" < 10)
    val root = freshRoot()
    IndexStore.train(spark, root, emb, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, seed = 42L)
    (0 until 3).foreach { b =>
      assert(IndexStore.appendCodes(spark, root, b.toLong,
        emb.filter($"vec_id" % 3 === b)))
    }
    def rows(): Seq[(Long, Long, Int)] =
      IndexStore.searchTopK(spark, root, emb, q, k = 5, nprobe = 3,
          rerank = 32)
        .select(col("query_id").cast("long"), col("corpus_id").cast("long"),
          col("rank").cast("int")).as[(Long, Long, Int)]
        .collect().sortBy(r => (r._1, r._3)).toSeq
    val before = rows()
    val preRows = IndexStore.readCodes(spark, root).count()
    val merged = IndexStore.compactCodes(spark, root)
    assert(merged >= graft.llm.DedupStore.CompactBase,
      s"merged id $merged must live in the reserved compact id space")
    // all rows fold into the merged segment; the folded ingest ids stay
    // committed — the replay ledger a streamed store needs — so a
    // re-append of any folded id is a no-op
    assert(graft.llm.DedupStore.committedBatches(spark, s"$root/codes")
      == Seq(0L, 1L, 2L, merged),
      "folded ingest ids must stay committed")
    assert(IndexStore.readCodes(spark, root).count() == preRows)
    assert(!IndexStore.appendCodes(spark, root, 1L,
      emb.filter($"vec_id" % 3 === 1)),
      "a replayed folded batch must no-op after compaction")
    assert(IndexStore.readCodes(spark, root).count() == preRows)
    assert(rows() == before, "compaction changed search results")
  }

  test("an unmarked (in-flight) code segment is invisible to search") {
    val q = emb.filter($"vec_id" < 10)
    val root = freshRoot()
    IndexStore.train(spark, root, emb, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, seed = 42L)
    assert(IndexStore.appendCodes(spark, root, 0L, emb))
    val committed = IndexStore.searchTopK(spark, root, emb, q, k = 5,
        nprobe = 3, rerank = 32)
      .select(col("query_id"), col("corpus_id")).as[(Long, Long)]
      .collect().toSet
    // simulate a crash mid-append of batch 1: segment data present, no
    // done marker — readers must not see it
    val rq = IndexStore.loadQuantizer(spark, root)
    graft.llm.Similarity.encodeResidual(
        emb.select($"vec_id" + 1000000L as "vec_id", $"embedding"), rq)
      .write.mode("overwrite").parquet(s"$root/codes/segments/1")
    val after = IndexStore.searchTopK(spark, root, emb, q, k = 5,
        nprobe = 3, rerank = 32)
      .select(col("query_id"), col("corpus_id")).as[(Long, Long)]
      .collect().toSet
    assert(after == committed, "half-appended segment leaked into search")
    assert(IndexStore.readCodes(spark, root).count() == emb.count())
  }

  test("filtered search returns only same-label results (pre-filter)") {
    val root = freshRoot()
    IndexStore.train(spark, root, emb, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, seed = 42L)
    assert(IndexStore.appendCodes(spark, root, 0L, emb,
      carryCols = Seq("label")))
    val q = emb.filter($"vec_id" < 10)
    val got = IndexStore.searchTopK(spark, root, emb, q, k = 5, nprobe = 8,
        rerank = 32, matchCols = Seq("label"))
      .join(emb.select($"vec_id".as("query_id"), $"label".as("q_label")),
        Seq("query_id"))
      .join(emb.select($"vec_id".as("corpus_id"), $"label".as("c_label")),
        Seq("corpus_id"))
    assert(got.filter($"q_label" =!= $"c_label").isEmpty,
      "filtered search leaked a cross-label result")
    // every query gets k results (its label group is larger than k, and
    // nprobe = nlist scans every cell — the filter must not starve the
    // budget below the available same-label pool)
    val counts = got.groupBy($"query_id").count()
      .select($"count").as[Long].collect()
    assert(counts.length == 10 && counts.forall(_ == 5L),
      s"filtered search starved some query: ${counts.toSeq}")
  }

  test("concurrent trainers converge on ONE committed quantizer") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val root = freshRoot()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // four trainers race with DIFFERENT corpus slices and seeds — every
      // caller must come back holding the quantizer that actually
      // committed (losers load the winner's, never their own fresh fit)
      val got = Await.result(Future.sequence((0 until 4).map(i => Future {
        IndexStore.train(spark, root, emb.filter($"vec_id" % 4 <= i),
          dim = 64, nlist = 4, m = 4, codebookSize = 8, seed = 100L + i)
      })), 120.seconds)
      val committed = IndexStore.loadQuantizer(spark, root)
      got.foreach { rq =>
        assert(rq.centroids == committed.centroids,
          "a trainer returned a quantizer that is not the committed one")
        assert(rq.codebooks.map(_.map(_.toSeq).toSeq).toSeq
          == committed.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
      }
      // and searches through it work: the store is in a coherent state
      assert(IndexStore.appendCodes(spark, root, 0L, emb))
      assert(IndexStore.searchTopK(spark, root, emb,
        emb.filter($"vec_id" < 3), k = 3, nprobe = 4, rerank = 8)
        .count() == 9L)
    } finally pool.shutdown()
  }

  test("flat/int8/IMI store searches == their fit-per-query twins, row-identical") {
    val q = emb.filter($"vec_id" < 10)
    // IVF-Flat vs ivfTopK (same seed -> same centroids; exact in-scan
    // cosine both sides; float->double widening is exact, so bit-identical)
    val fr = freshRoot()
    IndexStore.trainIvf(spark, fr, emb, dim = 64, nlist = 8, seed = 42L)
    assert(IndexStore.appendFlat(spark, fr, 0L, emb))
    assert(!IndexStore.appendFlat(spark, fr, 0L, emb), "replay must no-op")
    val flatGot = IndexStore.searchTopKFlat(spark, fr, q, k = 5, nprobe = 3)
      .orderBy($"query_id", $"rank").collect().toSeq
    val flatWant = Similarity.ivfTopK(spark, emb, q, k = 5, nlist = 8,
      nprobe = 3, seed = 42L).orderBy($"query_id", $"rank").collect().toSeq
    assert(flatGot == flatWant, "flat store diverged from ivfTopK")
    // INT8 vs ivfTopKQuantized (same centroids, same quantized scan, same
    // exact re-rank tail)
    val ir = freshRoot()
    IndexStore.trainIvf(spark, ir, emb, dim = 64, nlist = 8, seed = 42L)
    assert(IndexStore.appendInt8(spark, ir, 0L, emb))
    val i8Got = IndexStore.searchTopKInt8(spark, ir, emb, q, k = 5,
      nprobe = 3, rerank = 4).orderBy($"query_id", $"rank").collect().toSeq
    val i8Want = Similarity.ivfTopKQuantized(spark, emb, q, k = 5, nlist = 8,
      nprobe = 3, rerank = 4, seed = 42L)
      .orderBy($"query_id", $"rank").collect().toSeq
    assert(i8Got == i8Want, "int8 store diverged from ivfTopKQuantized")
    // IMI vs imiTopK (same half-codebooks, same cell kernel)
    val mr = freshRoot()
    IndexStore.trainImi(spark, mr, emb, dim = 64, kA = 8, kB = 8, seed = 42L)
    assert(IndexStore.appendImi(spark, mr, 0L, emb))
    val imiGot = IndexStore.searchTopKImi(spark, mr, q, k = 5, nprobe = 16)
      .orderBy($"query_id", $"rank").collect().toSeq
    val imiWant = Similarity.imiTopK(spark, emb, q, k = 5, kA = 8, kB = 8,
      nprobe = 16, seed = 42L).orderBy($"query_id", $"rank").collect().toSeq
    assert(imiGot == imiWant, "IMI store diverged from imiTopK")
    // artifact roundtrips are loud on corruption: a fresh session-less
    // reload from disk matches the fitted product
    val art = IndexStore.loadIvf(spark, fr)
    assert(art.nlist == 8 && art.dim == 64 && art.centroids.size == 8)
    val imi = IndexStore.loadImi(spark, mr)
    assert(imi.cbA.length == 8 && imi.cbB.length == 8)
  }

  test("searchCurrent dispatches by the resolved root's artifact family") {
    val q = emb.filter($"vec_id" < 6)
    // flat family behind an alias
    val aliasF = freshRoot()
    val rf = s"$aliasF/store-flat"
    IndexStore.trainIvf(spark, rf, emb, dim = 64, nlist = 8, seed = 42L)
    IndexStore.appendFlat(spark, rf, 0L, emb)
    IndexStore.publishRoot(spark, aliasF, rf)
    assert(IndexStore.searchCurrent(spark, aliasF, emb, q, k = 3, nprobe = 3)
        .orderBy($"query_id", $"rank").collect().toSeq ==
      IndexStore.searchTopKFlat(spark, rf, q, k = 3, nprobe = 3)
        .orderBy($"query_id", $"rank").collect().toSeq)
    // int8 family (same artifact kind — the SEGMENT schema dispatches)
    val aliasI = freshRoot()
    val ri = s"$aliasI/store-int8"
    IndexStore.trainIvf(spark, ri, emb, dim = 64, nlist = 8, seed = 42L)
    IndexStore.appendInt8(spark, ri, 0L, emb)
    IndexStore.publishRoot(spark, aliasI, ri)
    assert(IndexStore.searchCurrent(spark, aliasI, emb, q, k = 3,
        nprobe = 3, rerank = 4)
        .orderBy($"query_id", $"rank").collect().toSeq ==
      IndexStore.searchTopKInt8(spark, ri, emb, q, k = 3, nprobe = 3,
        rerank = 4).orderBy($"query_id", $"rank").collect().toSeq)
    // IMI family
    val aliasM = freshRoot()
    val rm = s"$aliasM/store-imi"
    IndexStore.trainImi(spark, rm, emb, dim = 64, kA = 8, kB = 8, seed = 42L)
    IndexStore.appendImi(spark, rm, 0L, emb)
    IndexStore.publishRoot(spark, aliasM, rm)
    assert(IndexStore.searchCurrent(spark, aliasM, emb, q, k = 3, nprobe = 16)
        .orderBy($"query_id", $"rank").collect().toSeq ==
      IndexStore.searchTopKImi(spark, rm, q, k = 3, nprobe = 16)
        .orderBy($"query_id", $"rank").collect().toSeq)
    // filtered search is residual-only — refused loudly elsewhere
    val e = intercept[IllegalArgumentException] {
      IndexStore.searchCurrent(spark, aliasF, emb, q, k = 3,
        matchCols = Seq("label"))
    }
    assert(e.getMessage.contains("residual"), e.getMessage)
  }

  test("rotate: atomic pointer cutover, old store intact for rollback") {
    val alias = freshRoot()
    val half = emb.filter($"vec_id" % 2 === 0)
    val root1 = IndexStore.rotate(spark, alias, half, dim = 64, nlist = 8,
      m = 8, codebookSize = 16, seed = 42L)
    assert(IndexStore.currentRoot(spark, alias).contains(root1))
    val q = emb.filter($"vec_id" < 10)
    val before = IndexStore.searchCurrent(spark, alias, half, q, k = 5,
      nprobe = 3, rerank = 8).collect()
    assert(before.length == 50)
    // refit on the full corpus at a new root; cutover
    val root2 = IndexStore.rotate(spark, alias, emb, dim = 64, nlist = 8,
      m = 8, codebookSize = 16, seed = 43L)
    assert(root2 != root1)
    assert(IndexStore.currentRoot(spark, alias).contains(root2))
    // alias search == direct search of the new root, row-identical
    val viaAlias = IndexStore.searchCurrent(spark, alias, emb, q, k = 5,
      nprobe = 3, rerank = 8).orderBy($"query_id", $"rank").collect().toSeq
    val direct = IndexStore.searchTopK(spark, root2, emb, q, k = 5,
      nprobe = 3, rerank = 8).orderBy($"query_id", $"rank").collect().toSeq
    assert(viaAlias == direct)
    // the old store is untouched — rollback is just re-publishing it
    assert(IndexStore.quantizerCommitted(spark, root1))
    IndexStore.publishRoot(spark, alias, root1)
    assert(IndexStore.currentRoot(spark, alias).contains(root1))
    val rolledBack = IndexStore.searchCurrent(spark, alias, half, q, k = 5,
      nprobe = 3, rerank = 8).collect()
    assert(rolledBack.length == 50)
  }

  test("pointer stamps are a TOTAL order: rapid alternating publishes " +
    "always resolve to the most recent, same-millisecond included") {
    // newStamp is per-JVM monotonic (max(now, last+1)) — before r16 two
    // publishes inside one wall-clock millisecond ordered by uuid, i.e.
    // randomly. 40 publishes in a tight loop land many same-millis pairs;
    // every resolve must follow publish order.
    val alias = freshRoot()
    val half = emb.filter($"vec_id" % 2 === 0)
    val rootA = IndexStore.rotate(spark, alias, half, dim = 64, nlist = 4,
      m = 4, codebookSize = 8, seed = 1L)
    val rootB = IndexStore.rotate(spark, alias, half, dim = 64, nlist = 4,
      m = 4, codebookSize = 8, seed = 2L)
    (1 to 40).foreach { i =>
      val want = if (i % 2 == 0) rootA else rootB
      IndexStore.publishRoot(spark, alias, want)
      assert(IndexStore.currentRoot(spark, alias).contains(want),
        s"publish #$i must win the pointer race deterministically")
    }
  }

  test("searches racing a rotate see a complete store — zero failures") {
    val alias = freshRoot()
    val half = emb.filter($"vec_id" % 2 === 0)
    IndexStore.rotate(spark, alias, half, dim = 64, nlist = 8,
      m = 8, codebookSize = 16, seed = 42L)
    val q = emb.filter($"vec_id" < 6)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    val searches = new java.util.concurrent.atomic.AtomicInteger(0)
    val searcher = new Thread(() => {
      while (!stop.get()) {
        try {
          // the corpus arg only feeds the rerank tail; the full corpus is
          // a superset of both epochs' indexed sets, valid on either side
          val n = IndexStore.searchCurrent(spark, alias, emb, q, k = 3,
            nprobe = 3, rerank = 8).count()
          if (n != 18L) failures.incrementAndGet()
          searches.incrementAndGet()
        } catch { case _: Throwable => failures.incrementAndGet() }
      }
    })
    searcher.start()
    try {
      // several rotations while searches hammer the alias
      for (seed <- 43L to 45L)
        IndexStore.rotate(spark, alias, emb, dim = 64, nlist = 8,
          m = 8, codebookSize = 16, seed = seed)
    } finally {
      stop.set(true)
      searcher.join(60000)
    }
    assert(failures.get() == 0,
      s"${failures.get()} searches failed during rotate (of ${searches.get()})")
    assert(searches.get() > 0, "the racing searcher never ran")
  }

  test("a crashed rotate (store built, pointer never published) is invisible") {
    val alias = freshRoot()
    val half = emb.filter($"vec_id" % 2 === 0)
    val root1 = IndexStore.rotate(spark, alias, half, dim = 64, nlist = 8,
      m = 8, codebookSize = 16, seed = 42L)
    // a rotate that dies between the store build and the pointer publish:
    // fully committed store at a new root, no pointer
    val orphan = s"$alias/store-9999999999999-orphan"
    IndexStore.train(spark, orphan, emb, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, seed = 43L)
    IndexStore.appendCodes(spark, orphan, 0L, emb)
    assert(IndexStore.currentRoot(spark, alias).contains(root1),
      "an unpublished store must never be resolved")
    // publishing a HALF-built root is refused outright
    val e = intercept[IllegalArgumentException] {
      IndexStore.publishRoot(spark, alias, s"$alias/store-0000000000000-empty")
    }
    assert(e.getMessage.contains("half-built"), e.getMessage)
    // the aged sweep reclaims the orphan (unreferenced by any kept
    // pointer), never the live store
    val swept = IndexStore.sweepSuperseded(spark, alias, keepPointers = 1,
      minAgeMs = 0L)
    assert(swept.exists(_.contains("orphan")), s"orphan not swept: $swept")
    assert(IndexStore.quantizerCommitted(spark, root1))
    assert(IndexStore.currentRoot(spark, alias).contains(root1))
  }

  test("sweepSuperseded keeps the newest pointers' stores, GCs the rest") {
    val alias = freshRoot()
    val roots = (42L to 44L).map { seed =>
      IndexStore.rotate(spark, alias, emb.filter($"vec_id" % 2 === 0),
        dim = 64, nlist = 8, m = 8, codebookSize = 16, seed = seed)
    }
    // age-gate: a young store is NEVER swept (mid-flight rotate window)
    assert(IndexStore.sweepSuperseded(spark, alias, keepPointers = 1).isEmpty)
    val swept = IndexStore.sweepSuperseded(spark, alias, keepPointers = 1,
      minAgeMs = 0L)
    assert(swept.exists(_.contains(roots(0).split("/").last)) &&
      swept.exists(_.contains(roots(1).split("/").last)), s"swept: $swept")
    assert(IndexStore.currentRoot(spark, alias).contains(roots(2)))
    assert(IndexStore.quantizerCommitted(spark, roots(2)))
    assert(!IndexStore.quantizerCommitted(spark, roots(0)))
    intercept[IllegalArgumentException] {
      IndexStore.sweepSuperseded(spark, alias, keepPointers = 0)
    }
    ()
  }

  test("searching a store with no committed quantizer fails loud") {
    val root = freshRoot()
    val e = intercept[IllegalArgumentException] {
      IndexStore.searchTopK(spark, root, emb, emb.filter($"vec_id" < 2), k = 3)
    }
    assert(e.getMessage.contains("no committed quantizer"), e.getMessage)
  }

  test("a committed artifact dir holding only the old meta/ layout fails " +
      "loud, naming the root and the family") {
    val loaders = Seq[(String, String => AnyRef)](
      "quantizer" -> (r => IndexStore.loadQuantizer(spark, r)),
      "ivf" -> (r => IndexStore.loadIvf(spark, r)),
      "imi" -> (r => IndexStore.loadImi(spark, r)))
    for ((family, load) <- loaders) {
      val root = freshRoot()
      // the multi-directory layout's one-row param frame, no artifact/
      Seq((64, 8, 8, 16)).toDF("dim", "nlist", "m", "codebook_size")
        .write.parquet(s"$root/$family/meta")
      val e = intercept[IllegalStateException](load(root))
      assert(e.getMessage.contains(root) && e.getMessage.contains(family) &&
        e.getMessage.contains("artifact/"), e.getMessage)
    }
  }

  test("ingestWithDriftGuard: same-distribution batches append, drift rotates, replay no-ops across the cutover") {
    val alias = freshRoot()
    val e = emb.select($"vec_id", $"embedding")
    val b0 = e.filter($"vec_id" % 4 === 0)
    val b1 = e.filter($"vec_id" % 4 === 1)
    val b2 = e.filter($"vec_id" % 4 === 2)
    val shifted = e.filter($"vec_id" % 4 === 3).select($"vec_id",
      transform($"embedding", x => x + lit(0.5f)).as("embedding"))
    val corpus = b0.unionByName(b1).unionByName(b2).unionByName(shifted)
    def ingest(id: Long, batch: org.apache.spark.sql.DataFrame): Boolean =
      IndexStore.ingestWithDriftGuard(spark, alias, id, batch, corpus,
        dim = 64, nlist = 8, m = 8, codebookSize = 16, seed = 42L)
    // bootstrap rotates (publishes the first store)
    assert(ingest(0L, b0), "first batch must bootstrap")
    val root0 = IndexStore.currentRoot(spark, alias).get
    // same-distribution batches append — the dial must NOT fire
    assert(!ingest(1L, b1), "same-distribution batch must not rotate")
    assert(!ingest(2L, b2), "same-distribution batch must not rotate")
    assert(IndexStore.currentRoot(spark, alias).contains(root0))
    assert(IndexStore.readCodes(spark, root0).count() ==
      b0.count() + b1.count() + b2.count())
    // replays of committed ids skip without touching the monitor
    assert(!ingest(1L, b1))
    // the drifted batch fires: fresh fit, atomic cutover, old root intact
    assert(ingest(3L, shifted), "drifted batch must rotate")
    val root1 = IndexStore.currentRoot(spark, alias).get
    assert(root1 != root0, "rotation must publish a NEW root")
    assert(IndexStore.quantizerCommitted(spark, root0), "rollback intact")
    assert(IndexStore.readCodes(spark, root1).count() == corpus.count(),
      "the fold must hold history + the firing batch")
    // exactly-once ACROSS the cutover: every pre-rotation id and the
    // firing id no-op against the new root's carried markers
    Seq(0L, 1L, 2L, 3L).foreach { id =>
      assert(!ingest(id, corpus.limit(5)),
        s"replayed batch $id must no-op after the rotation")
    }
    assert(IndexStore.readCodes(spark, root1).count() == corpus.count())
    // post-rotation ingest appends to the NEW root
    assert(!ingest(4L, b1.limit(0).unionByName(b2.limit(3))))
    assert(IndexStore.readCodes(spark, root1).count() == corpus.count() + 3)
    // stream ids own the non-negative space; the fold convention is -1L
    val bad = intercept[IllegalArgumentException] {
      ingest(-1L, b1)
    }
    assert(bad.getMessage.contains("non-negative"), bad.getMessage)
    // search through the alias serves the rotated store
    assert(IndexStore.searchCurrent(spark, alias, corpus,
      corpus.filter($"vec_id" < 4), k = 3, nprobe = 3, rerank = 8)
      .count() > 0)
  }

  test("a crashed guarded rotation (store built + markers seeded, pointer " +
    "never published) replays to exactly-once") {
    // the r15 ADVICE window: markers must land on the new root BEFORE the
    // pointer flips. Simulate the crash mid-cutover — a complete store
    // built under the alias with replay markers seeded, pointer untouched
    // — and verify the replayed firing batch re-runs the whole step and
    // converges to exactly-once (no double-indexed batch, old root intact)
    val alias = freshRoot()
    val e = emb.select($"vec_id", $"embedding")
    val b0 = e.filter($"vec_id" % 4 === 0)
    val b1 = e.filter($"vec_id" % 4 === 1)
    val drift = e.filter($"vec_id" % 4 === 2).select($"vec_id",
      transform($"embedding", x => x + lit(0.5f)).as("embedding"))
    val corpus = b0.unionByName(b1).unionByName(drift)
    def ingest(id: Long, batch: org.apache.spark.sql.DataFrame): Boolean =
      IndexStore.ingestWithDriftGuard(spark, alias, id, batch, corpus,
        dim = 64, nlist = 8, m = 8, codebookSize = 16, seed = 42L)
    assert(ingest(0L, b0))                   // bootstrap
    assert(!ingest(1L, b1))                  // seeds the yardstick
    val root0 = IndexStore.currentRoot(spark, alias).get
    // --- crash simulation: the fire path minus publishRoot ---
    val debris = s"$alias/store-crashed-manual"
    IndexStore.train(spark, debris, corpus, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, seed = 42L)
    IndexStore.appendCodes(spark, debris, -1L, corpus)      // the fold
    Seq(0L, 1L, 2L).foreach(id =>                           // the markers
      IndexStore.appendCodes(spark, debris, id, corpus.limit(0)))
    // pointer never flipped: readers still resolve the old root, and the
    // old root has NO marker for the firing batch
    assert(IndexStore.currentRoot(spark, alias).contains(root0),
      "a crash before publish must leave the old pointer live")
    // --- restart: the replayed firing batch must re-fire and publish ---
    assert(ingest(2L, drift), "replayed firing batch must re-run the rotation")
    val root1 = IndexStore.currentRoot(spark, alias).get
    assert(root1 != root0 && root1 != debris)
    assert(IndexStore.readCodes(spark, root1).count() == corpus.count(),
      "exactly-once: every vector in the new store exactly once")
    Seq(0L, 1L, 2L).foreach(id => assert(!ingest(id, corpus.limit(5)),
      s"batch $id must no-op after the recovered rotation"))
    assert(IndexStore.readCodes(spark, root1).count() == corpus.count(),
      "replays after recovery must not append")
  }

  test("compactCodes mid-stream preserves replay markers: replays no-op, " +
    "a later guard-fire rotation carries folded history, raw compact " +
    "keeps replays no-op") {
    // the r15 'don't compact a store under active streaming ingest'
    // convention, replaced with machinery: compaction keeps the folded
    // ingest ids' markers, so a replayed stream batch cannot re-append
    // its content on top of the fold
    val alias = freshRoot()
    val e = emb.select($"vec_id", $"embedding")
    val b0 = e.filter($"vec_id" % 4 === 0)
    val b1 = e.filter($"vec_id" % 4 === 1)
    val b2 = e.filter($"vec_id" % 4 === 2)
    val drift = e.filter($"vec_id" % 4 === 3).select($"vec_id",
      transform($"embedding", x => x + lit(0.5f)).as("embedding"))
    val corpus = b0.unionByName(b1).unionByName(b2).unionByName(drift)
    def ingest(id: Long, batch: org.apache.spark.sql.DataFrame): Boolean =
      IndexStore.ingestWithDriftGuard(spark, alias, id, batch, corpus,
        dim = 64, nlist = 8, m = 8, codebookSize = 16, seed = 42L)
    assert(ingest(0L, b0))
    assert(!ingest(1L, b1))
    val root0 = IndexStore.currentRoot(spark, alias).get
    val n = IndexStore.readCodes(spark, root0).count()
    // compact the LIVE streamed store; content unchanged
    IndexStore.compactCodes(spark, root0)
    assert(IndexStore.readCodes(spark, root0).count() == n)
    // replayed pre-compact batches still no-op (without marker
    // preservation they would re-append on top of the fold)
    assert(!ingest(0L, b0) && !ingest(1L, b1),
      "replays after compactCodes must no-op")
    assert(IndexStore.readCodes(spark, root0).count() == n,
      "a replayed batch re-appended over the fold — markers were lost")
    // the stream continues; drift fires; the rotation's cutover markers
    // carry the folded history ids
    assert(!ingest(2L, b2))
    assert(ingest(3L, drift), "drifted batch must rotate")
    val root1 = IndexStore.currentRoot(spark, alias).get
    Seq(0L, 1L, 2L, 3L).foreach(id => assert(!ingest(id, corpus.limit(5)),
      s"batch $id must no-op across the post-compaction rotation"))
    assert(IndexStore.readCodes(spark, root1).count() == corpus.count())
    // a RAW DedupStore.compact keeps the ledger too: every replay still
    // no-ops and nothing is indexed twice
    graft.llm.DedupStore.compact(spark, s"$root1/codes")
    Seq(0L, 1L, 2L, 3L).foreach(id => assert(!ingest(id, corpus.limit(5)),
      s"batch $id must no-op after a raw compaction"))
    assert(IndexStore.currentRoot(spark, alias).contains(root1))
    assert(IndexStore.readCodes(spark, root1).count() == corpus.count())
  }

  test("a compaction killed between its fold commit and its retire pass " +
    "never returns a neighbour twice; a re-run finishes the retire") {
    val q = emb.filter($"vec_id" < 10)
    val root = freshRoot()
    IndexStore.train(spark, root, emb, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, seed = 42L)
    (0 until 3).foreach(b => IndexStore.appendCodes(spark, root, b.toLong,
      emb.filter($"vec_id" % 3 === b)))
    val n = IndexStore.readCodes(spark, root).count()
    // copy the sources aside, compact, restore them: sources and fold are
    // both committed, the state a kill inside the retire pass leaves
    val conf = spark.sessionState.newHadoopConf()
    val f = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    val aside = freshRoot()
    val sources = (0 to 2).flatMap(b => Seq(s"segments/$b", s"done-$b"))
    def copy(from: String, to: String): Unit = sources.foreach { rel =>
      val dst = new org.apache.hadoop.fs.Path(s"$to/codes", rel)
      f.delete(dst, true)
      org.apache.hadoop.fs.FileUtil.copy(f,
        new org.apache.hadoop.fs.Path(s"$from/codes", rel), f, dst, false, conf)
    }
    copy(root, aside)
    IndexStore.compactCodes(spark, root)
    copy(aside, root)
    def pairs(): Seq[(Long, Long)] =
      IndexStore.searchTopK(spark, root, emb, q, k = 5, nprobe = 3,
          rerank = 32)
        .select(col("query_id").cast("long"), col("corpus_id").cast("long"))
        .as[(Long, Long)].collect().toSeq
    Seq("crashed", "re-run").foreach { state =>
      val p = pairs()
      assert(p.nonEmpty && p.distinct.size == p.size, s"$state: ${p.size} " +
        s"rows but ${p.distinct.size} distinct (query_id, corpus_id) pairs")
      assert(IndexStore.readCodes(spark, root).count() == n,
        s"$state: code rows read twice")
      IndexStore.compactCodes(spark, root)
    }
  }

  test("warm-up discrimination: a duplication-inflated same-distribution " +
    "batch appends and records the observed yardstick; a second " +
    "same-magnitude batch cannot false-fire (the sf10 duplication lesson)") {
    // On a duplicated corpus every same-distribution batch's vs-store
    // chi² is inflated by the copy factor while the within-batch split
    // stays low — the very chi² signature a truly drifted batch shows.
    // Clamping the warm-up record to the within-batch chi² (tried and
    // reverted in r16) seeded a tiny yardstick and the next NORMAL batch
    // false-fired at sf10. The shipped dial breaks the ambiguity with
    // the MOVED-MASS statistic instead: this batch's chi² is hugely
    // suspicious (~100× a clean batch's) but its cell SHARES match the
    // store's, so the TV warm-up path must hold its fire, the batch
    // appends recording the observed (inflated) statistic, and a second
    // batch of the same magnitude sits inside priorFactor× of it.
    val alias = freshRoot()
    val e = emb.select($"vec_id", $"embedding")
    val b0 = e.filter($"vec_id" % 4 < 2)
    // 100 id-distinct copies of every slice — STORE side included: the
    // m32 sf10 amplification physics at spec scale. Both empirical
    // distributions carry their ORIGINAL sample's noise while the test
    // sees 100× the rows, so chi² inflates ∝ copies; the shares (and so
    // TV) are fixed points of duplication. (Duplicating only the batch
    // would NOT inflate chi² — the two-sample statistic is bounded by
    // the smaller side's size.)
    def dup(slice: org.apache.spark.sql.DataFrame, copies: Int,
        shift: Long): org.apache.spark.sql.DataFrame =
      (0 until copies).map(i => slice.select(
        ($"vec_id" + lit(shift * (i + 1))).as("vec_id"), $"embedding"))
        .reduce(_ unionByName _)
    val dupB0 = dup(b0, 100, 100000L)
    val s1 = e.filter($"vec_id" % 4 === 2)
    val dup1 = dup(s1, 100, 100000L)
    val dup2 = dup(e.filter($"vec_id" % 4 === 3), 100, 100000000L)
    val corpus = dupB0.unionByName(dup1).unionByName(dup2)
    def ingest(id: Long, batch: org.apache.spark.sql.DataFrame): Boolean =
      IndexStore.ingestWithDriftGuard(spark, alias, id, batch, corpus,
        dim = 64, nlist = 8, m = 8, codebookSize = 16, seed = 42L)
    assert(ingest(0L, dupB0))                // bootstrap — guard dir empty
    val root0 = IndexStore.currentRoot(spark, alias).get
    // duplication-inflated same-dist batch on the yardstick-less root:
    // must append (TV stays at the share-noise floor), recording what it SAW
    assert(!ingest(1L, dup1),
      "a duplication-inflated same-distribution warm-up batch must " +
        "append, not rotate — firing here is the r16 clamp's false-fire")
    val statFile = new java.io.File(s"$root0/guard/stat-1")
    assert(statFile.exists, "accepted batch must record a yardstick")
    val recorded = scala.io.Source.fromFile(statFile).mkString.trim.toDouble
    assert(recorded > 100.0,
      s"the warm-up yardstick must be the observed (inflated) statistic " +
        s"(got $recorded) — a clamped record lets the next " +
        "same-magnitude batch false-fire")
    // the second same-magnitude batch must NOT fire: its chi² is inside
    // priorFactor× the recorded yardstick
    assert(!ingest(2L, dup2),
      "a same-magnitude second batch must append — firing here is the " +
        "sf10 duplicated-corpus false-rotation")
    assert(IndexStore.currentRoot(spark, alias).contains(root0))
  }

  test("warm-up discrimination: a genuinely drifted batch rotates " +
    "IMMEDIATELY via the moved-mass path — no yardstick required") {
    // The capability the reverted r16 chi²-clamp tried to buy: drift in
    // the very first post-bootstrap batch. Chi² alone cannot fire here
    // (no yardstick, and its magnitude is duplication-ambiguous); the
    // TV-over-shares statistic can, because this batch's mass actually
    // MOVED (DriftSeparatorProbe, retired,
    // `git show 82306df:src/main/scala/graft/examples/DriftSeparatorProbe.scala`:
    // TV ≥ 0.507 across five scales vs
    // ≤ 0.136 for same-dist at up to 100× duplication).
    val alias = freshRoot()
    val e = emb.select($"vec_id", $"embedding")
    val b0 = e.filter($"vec_id" % 4 < 2)
    val drift = e.filter($"vec_id" % 4 >= 2).select($"vec_id",
      transform($"embedding", x => x + lit(0.5f)).as("embedding"))
    val corpus = b0.unionByName(drift)
    def ingest(id: Long, batch: org.apache.spark.sql.DataFrame): Boolean =
      IndexStore.ingestWithDriftGuard(spark, alias, id, batch, corpus,
        dim = 64, nlist = 8, m = 8, codebookSize = 16, seed = 42L)
    assert(ingest(0L, b0))                   // bootstrap — guard dir empty
    val root0 = IndexStore.currentRoot(spark, alias).get
    assert(ingest(1L, drift),
      "a drifted warm-up batch must rotate via the moved-mass path")
    val root1 = IndexStore.currentRoot(spark, alias).get
    assert(root1 != root0, "rotation must publish a fresh root")
    // exactly-once across the warm-up cutover: both ids re-committed
    assert(!ingest(0L, b0), "replayed bootstrap batch must no-op")
    assert(!ingest(1L, drift), "replayed firing batch must no-op")
    assert(IndexStore.readCodes(spark, root1).count() == corpus.count())
  }

  test("maintain: one call GCs superseded stores, sweeps staging, prunes " +
    "guard stats, folds history beyond the as-of horizon") {
    val alias = freshRoot()
    val e = emb.select($"vec_id", $"embedding")
    def ingest(id: Long, batch: org.apache.spark.sql.DataFrame): Boolean =
      IndexStore.ingestWithDriftGuard(spark, alias, id, batch, e,
        dim = 64, nlist = 8, m = 8, codebookSize = 16, seed = 42L)
    // bootstrap, then rotate so a superseded store exists for the GC leg
    assert(ingest(0L, e.filter($"vec_id" % 12 === 0)))
    val root0 = IndexStore.currentRoot(spark, alias).get
    val root1 = IndexStore.rotate(spark, alias, e, dim = 64, nlist = 8,
      m = 8, codebookSize = 16, seed = 43L, foldBatchId = -1L)
    // a stream of accepted batches on the live store (yardstick files too)
    (1 to 12).foreach(i =>
      assert(!ingest(i.toLong, e.filter($"vec_id" % 12 === i % 12))))
    val preRows = IndexStore.readCodes(spark, root1).count()
    // crashed-trainer staging debris on the live root
    val f = new org.apache.hadoop.fs.Path(root1)
      .getFileSystem(spark.sessionState.newHadoopConf())
    f.mkdirs(new org.apache.hadoop.fs.Path(root1, ".quantizer-tmp-zz"))
    val rep = IndexStore.maintain(spark, alias, keepPointers = 1,
      minAgeMs = 0L, keepGuardStats = 3, compactMinSegments = 4,
      asOfHorizonSegments = 4)
    // superseded store GC'd, live store intact
    assert(rep.sweptStores.exists(_.contains(root0.split('/').last)),
      s"superseded $root0 must be swept: ${rep.sweptStores}")
    assert(IndexStore.currentRoot(spark, alias).contains(root1))
    assert(IndexStore.quantizerCommitted(spark, root1))
    // staging debris swept
    assert(rep.sweptStaging.exists(_.contains("quantizer-tmp-zz")))
    assert(!f.exists(new org.apache.hadoop.fs.Path(root1, ".quantizer-tmp-zz")))
    // guard stats bounded to the newest 3
    assert(rep.prunedGuardStats == 9, s"pruned ${rep.prunedGuardStats}")
    assert(f.listStatus(new org.apache.hadoop.fs.Path(s"$root1/guard"))
      .count(_.getPath.getName.startsWith("stat-")) == 3)
    // codes folded up to the horizon: rows intact, replay record intact
    val fold = rep.compactedFold.get
    assert(fold >= graft.llm.DedupStore.CompactBase)
    assert(IndexStore.readCodes(spark, root1).count() == preRows)
    assert(!ingest(5L, e.limit(3)), "folded batch must still no-op")
    assert(IndexStore.readCodes(spark, root1).count() == preRows)
    // as-of preserved across the configured horizon, refused below it
    val q = e.filter($"vec_id" < 5)
    assert(IndexStore.searchTopK(spark, root1, e, q, k = 3, nprobe = 3,
      rerank = 8, asOfBatch = 10L).count() > 0)
    val below = intercept[IllegalStateException] {
      IndexStore.searchTopK(spark, root1, e, q, k = 3, nprobe = 3,
        rerank = 8, asOfBatch = 5L).count()
    }
    assert(below.getMessage.contains("cannot be reconstructed"),
      below.getMessage)
    // a second maintain is quiet: nothing unfolded beyond the horizon
    val rep2 = IndexStore.maintain(spark, alias, keepPointers = 1,
      minAgeMs = 0L, keepGuardStats = 3, compactMinSegments = 4,
      asOfHorizonSegments = 4)
    assert(rep2.compactedFold.isEmpty,
      "a quiet store must not be re-folded every maintenance pass")
    assert(rep2.sweptStores.isEmpty && rep2.sweptStaging.isEmpty)
  }

  test("searchTopK asOfBatch: dated slices search exactly; compaction refuses honestly") {
    val root = freshRoot()
    val q = emb.filter($"vec_id" < 6)
    IndexStore.train(spark, root, emb, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, seed = 42L)
    IndexStore.appendCodes(spark, root, 0L, emb.filter($"vec_id" % 2 === 0))
    IndexStore.appendCodes(spark, root, 1L, emb.filter($"vec_id" % 2 === 1))
    // as-of 0 can only ever return epoch-0 (even) neighbors
    val asOf0 = IndexStore.searchTopK(spark, root, emb, q, k = 5,
      nprobe = 3, rerank = 8, asOfBatch = 0L).collect()
    assert(asOf0.nonEmpty && asOf0.forall(_.getAs[Long]("corpus_id") % 2 == 0),
      "an as-of-0 search must never surface epoch-1 vectors")
    // as-of head == the live read, row for row
    val head = IndexStore.searchTopK(spark, root, emb, q, k = 5,
      nprobe = 3, rerank = 8, asOfBatch = 1L)
      .orderBy($"query_id", $"rank").collect().toSeq
    val live = IndexStore.searchTopK(spark, root, emb, q, k = 5,
      nprobe = 3, rerank = 8)
      .orderBy($"query_id", $"rank").collect().toSeq
    assert(head == live)
    // compaction collapses the dated history: the as-of search inherits
    // readAsOf's loud refusal rather than silently scoring a wrong slice
    IndexStore.compactCodes(spark, root)
    val e = intercept[IllegalStateException] {
      IndexStore.searchTopK(spark, root, emb, q, k = 5, nprobe = 3,
        rerank = 8, asOfBatch = 0L).collect()
    }
    assert(e.getMessage.contains("cannot be reconstructed"), e.getMessage)
    // the live search is untouched by compaction
    assert(IndexStore.searchTopK(spark, root, emb, q, k = 5, nprobe = 3,
      rerank = 8).orderBy($"query_id", $"rank").collect().toSeq == live)
  }

  test("mergeStores: shard builds unify row-identical to a single build, zero re-encode") {
    val q = emb.filter($"vec_id" < 10)
    val even = emb.filter($"vec_id" % 2 === 0)
    val odd = emb.filter($"vec_id" % 2 === 1)
    // residual family: one global train, the artifact shipped to both
    // shard builders (saveQuantizer of the same fit), merge = artifact
    // commit + two segment copies
    val base = freshRoot()
    val (a, b, dst) = (s"$base/a", s"$base/b", s"$base/m")
    val rq = IndexStore.train(spark, a, emb, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, seed = 42L)
    assert(IndexStore.saveQuantizer(spark, b, rq))
    assert(IndexStore.appendCodes(spark, a, 0L, even))
    assert(IndexStore.appendCodes(spark, b, 0L, odd))
    assert(IndexStore.mergeStores(spark, dst, Seq(a, b)) == Seq(true, true))
    // crash-rerun: per-source no-op, store unchanged
    assert(IndexStore.mergeStores(spark, dst, Seq(a, b)) == Seq(false, false))
    assert(IndexStore.readCodes(spark, dst).count() == emb.count())
    // the load-bearing claim: search over the merged store == search over
    // a single-store build of the full corpus with the same artifact
    val single = s"$base/single"
    assert(IndexStore.saveQuantizer(spark, single, rq))
    assert(IndexStore.appendCodes(spark, single, 0L, emb))
    val got = IndexStore.searchTopK(spark, dst, emb, q, k = 5, nprobe = 3,
      rerank = 8).orderBy($"query_id", $"rank").collect().toSeq
    val want = IndexStore.searchTopK(spark, single, emb, q, k = 5,
      nprobe = 3, rerank = 8).orderBy($"query_id", $"rank").collect().toSeq
    assert(got == want, "merged store diverged from the single build")
    // flat family merges the same way (artifact = shared centroids)
    val (fa, fb, fm) = (s"$base/fa", s"$base/fb", s"$base/fm")
    val art = IndexStore.trainIvf(spark, fa, emb, dim = 64, nlist = 8,
      seed = 42L)
    assert(IndexStore.saveIvf(spark, fb, art))
    assert(IndexStore.appendFlat(spark, fa, 0L, even))
    assert(IndexStore.appendFlat(spark, fb, 0L, odd))
    assert(IndexStore.mergeStores(spark, fm, Seq(fa, fb)) == Seq(true, true))
    val fs2 = s"$base/fsingle"
    assert(IndexStore.saveIvf(spark, fs2, art))
    assert(IndexStore.appendFlat(spark, fs2, 0L, emb))
    assert(IndexStore.searchTopKFlat(spark, fm, q, k = 5, nprobe = 3)
        .orderBy($"query_id", $"rank").collect().toSeq ==
      IndexStore.searchTopKFlat(spark, fs2, q, k = 5, nprobe = 3)
        .orderBy($"query_id", $"rank").collect().toSeq,
      "merged flat store diverged from the single build")
  }

  test("mergeStores refuses divergent artifacts, foreign destinations, schema drift") {
    val even = emb.filter($"vec_id" % 2 === 0)
    val odd = emb.filter($"vec_id" % 2 === 1)
    val base = freshRoot()
    // divergent fits (different seeds): bit-fingerprints differ -> refuse;
    // codes encoded against different codebooks would score silently wrong
    val (a, b) = (s"$base/a", s"$base/b")
    IndexStore.train(spark, a, emb, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, seed = 42L)
    IndexStore.train(spark, b, emb, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, seed = 43L)
    IndexStore.appendCodes(spark, a, 0L, even)
    IndexStore.appendCodes(spark, b, 0L, odd)
    val e1 = intercept[IllegalArgumentException] {
      IndexStore.mergeStores(spark, s"$base/m1", Seq(a, b))
    }
    assert(e1.getMessage.contains("not merge-compatible"), e1.getMessage)
    // cross-family is just a special case of the same refusal
    val c = s"$base/c"
    IndexStore.trainIvf(spark, c, emb, dim = 64, nlist = 8, seed = 42L)
    IndexStore.appendFlat(spark, c, 0L, odd)
    val e2 = intercept[IllegalArgumentException] {
      IndexStore.mergeStores(spark, s"$base/m2", Seq(a, c))
    }
    assert(e2.getMessage.contains("not merge-compatible"), e2.getMessage)
    // a destination that already holds a DIFFERENT committed artifact
    // must refuse the foreign codes rather than mixing codebooks
    val e3 = intercept[IllegalArgumentException] {
      IndexStore.mergeStores(spark, b, Seq(a, a))
    }
    assert(e3.getMessage.contains("DIFFERENT committed"), e3.getMessage)
    // segment schema drift: a carryCols store cannot merge with a bare one
    val rq = IndexStore.loadQuantizer(spark, a)
    val d = s"$base/d"
    assert(IndexStore.saveQuantizer(spark, d, rq))
    IndexStore.appendCodes(spark, d, 0L,
      odd.withColumn("label", lit("x")), carryCols = Seq("label"))
    val e4 = intercept[IllegalArgumentException] {
      IndexStore.mergeStores(spark, s"$base/m3", Seq(a, d))
    }
    assert(e4.getMessage.contains("schemas differ"), e4.getMessage)
    // a store with no committed artifact at all
    val e5 = intercept[IllegalArgumentException] {
      IndexStore.mergeStores(spark, s"$base/m4", Seq(s"$base/nothing"))
    }
    assert(e5.getMessage.contains("no committed artifact"), e5.getMessage)
  }

  test("mergeStores replay is verified: same sources no-op, a DIFFERENT " +
    "source set at a reused idBase fails loud") {
    val even = emb.filter($"vec_id" % 2 === 0)
    val odd = emb.filter($"vec_id" % 2 === 1)
    val base = freshRoot()
    val rqRoot = s"$base/fit"
    val rq = IndexStore.train(spark, rqRoot, emb, dim = 64, nlist = 8,
      m = 8, codebookSize = 16, seed = 42L)
    val (a, b) = (s"$base/a", s"$base/b")
    Seq(a, b).foreach(r => assert(IndexStore.saveQuantizer(spark, r, rq)))
    IndexStore.appendCodes(spark, a, 0L, even)
    IndexStore.appendCodes(spark, b, 0L, odd)
    val dst = s"$base/dst"
    assert(IndexStore.mergeStores(spark, dst, Seq(a, b)) == Seq(true, true))
    // a crashed-merge re-run of the SAME sources in the same order is the
    // valid replay: every segment no-ops, store unchanged
    assert(IndexStore.mergeStores(spark, dst, Seq(a, b)) == Seq(false, false))
    // REORDERED sources at the same idBase: position i's committed segment
    // is a different source's codes — the old behavior silently returned
    // false ("already copied") and left the swap unmerged
    val e = intercept[IllegalArgumentException] {
      IndexStore.mergeStores(spark, dst, Seq(b, a))
    }
    assert(e.getMessage.contains("does NOT match source"), e.getMessage)
    // a genuinely new source at a FRESH idBase still merges
    assert(IndexStore.mergeStores(spark, dst, Seq(b), idBase = 2L)
      == Seq(true))
  }

  test("mergeStores re-run after a dst compaction refuses loudly, naming " +
    "the folded segment") {
    val base = freshRoot()
    val rq = IndexStore.train(spark, s"$base/fit", emb, dim = 64, nlist = 8,
      m = 8, codebookSize = 16, seed = 42L)
    val (a, b, dst) = (s"$base/a", s"$base/b", s"$base/dst")
    Seq(a, b).foreach(r => assert(IndexStore.saveQuantizer(spark, r, rq)))
    IndexStore.appendCodes(spark, a, 0L, emb.filter($"vec_id" % 2 === 0))
    IndexStore.appendCodes(spark, b, 0L, emb.filter($"vec_id" % 2 === 1))
    assert(IndexStore.mergeStores(spark, dst, Seq(a, b)) == Seq(true, true))
    graft.llm.DedupStore.compact(spark, s"$dst/codes")
    // the folded segments can no longer be checked against their sources:
    // refuse, never re-append the sources on top of the fold
    val e = intercept[IllegalStateException] {
      IndexStore.mergeStores(spark, dst, Seq(a, b))
    }
    assert(e.getMessage.contains("dst segment 0") &&
      e.getMessage.contains("folded"), e.getMessage)
    assert(IndexStore.readCodes(spark, dst).count() == emb.count())
  }
}
