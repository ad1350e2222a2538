package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.catalog.{PartitionSpec, TableRef}
import graft.exec.{Incremental, Mutations, SnapshotExec}
import graft.mat.Materializer

/** Structural guard on the write path's FIXED job count. At sf0.1 the
  * m-family cost is dominated by per-materialization job overhead, not
  * data (round-3 regression); these bounds pin the job diet (fused
  * dup-key guard, single touched collect, no distributed listing below
  * 1k paths, conditional REFRESH) so an accidental extra pass fails a
  * spec instead of surfacing as a 2× bench regression. */
class JobCountSpec extends SparkSpec {
  import spark.implicits._

  private def countJobs(f: => Unit): Int = {
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      // listener bus is async: wait for the count to go quiet
      var prev = -1
      var cur = n.get()
      var spins = 0
      while (prev != cur && spins < 50) {
        Thread.sleep(100); prev = cur; cur = n.get(); spins += 1
      }
      cur
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("partitioned merge stays within its fixed job budget") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = TableRef("default.jc_merge")
    Materializer.table(spark, ref,
      (1 to 40).map(i => (i.toLong, s"v$i", s"p${i % 4}")).toDF("id", "v", "pt"),
      part)
    val delta = (1 to 10).map(i => (i.toLong, s"N$i", s"p${i % 4}"))
      .toDF("id", "v", "pt")
    val jobs = countJobs {
      Incremental.merge(spark, ref, delta, uniqueKey = Seq("id"),
        partition = part)
    }
    info(s"partitioned merge jobs = $jobs")
    // measured 8–10 under AQE (touched collect + staged write sub-jobs);
    // the pre-diet shape (separate dup-guard job + distributed listings)
    // sat 3–4 above that
    assert(jobs <= 12, s"merge fixed job count regressed: $jobs")
    assert(spark.table(ref.render).filter($"v".startsWith("N")).count() == 10)
  }

  test("unpartitioned merge stays within its fixed job budget") {
    val ref = TableRef("default.jc_merge_flat")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").saveAsTable(ref.render)
    val jobs = countJobs {
      Incremental.merge(spark, ref, Seq((2L, "B"), (3L, "c")).toDF("id", "v"),
        uniqueKey = Seq("id"))
    }
    info(s"unpartitioned merge jobs = $jobs")
    // single-pass (anti-join ∪ src) form since r5; measured 5
    assert(jobs <= 6, s"flat merge fixed job count regressed: $jobs")
  }

  test("partitioned delete and deleteKeys stay within their fixed job budgets") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    def base(name: String): TableRef = {
      val ref = TableRef(s"default.$name")
      Materializer.table(spark, ref,
        (1 to 40).map(i => (i.toLong, s"v$i", s"p${i % 4}")).toDF("id", "v", "pt"),
        part)
      ref
    }
    // both touch p1 and p2: one capped touched collect, then the scoped
    // staged write of those two partitions (measured 4 and 7)
    val del = base("jc_delete")
    val delJobs = countJobs { Mutations.delete(spark, del, $"id" <= 2, part) }
    info(s"partitioned delete jobs = $delJobs")
    assert(delJobs <= 4, s"partitioned delete job count regressed: $delJobs")
    assert(spark.table(del.render).count() == 38)
    val dk = base("jc_delete_keys")
    val dkJobs = countJobs {
      Mutations.deleteKeys(spark, dk, Seq(1L, 2L).toDF("id"), Seq("id"), part)
    }
    info(s"partitioned deleteKeys jobs = $dkJobs")
    assert(dkJobs <= 7, s"partitioned deleteKeys job count regressed: $dkJobs")
    assert(spark.table(dk.render).count() == 38)
  }

  test("snapshot re-run stays within its fixed job budget") {
    val ref = TableRef("default.jc_snap")
    spark.sql(s"DROP TABLE IF EXISTS ${ref.render}")
    def src(n: Int, stamp: String) = (1 to n).map(i => (i.toLong, s"v$i", stamp))
      .toDF("id", "v", "updated_at").withColumn("updated_at", $"updated_at".cast("timestamp"))
    val strat = SnapshotExec.TimestampStrategy("updated_at")
    SnapshotExec.run(spark, ref, src(40, "2024-01-01 00:00:00"), Seq("id"), strat,
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    val next = src(35, "2024-01-01 00:00:00").filter($"id" > 5)
      .unionByName(src(45, "2024-02-01 00:00:00").filter($"id" > 35))
    val jobs = countJobs {
      SnapshotExec.run(spark, ref, next, Seq("id"), strat,
        java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), invalidateHardDeletes = true)
    }
    info(s"snapshot re-run jobs = $jobs")
    // one pass (one scan per input, one full-outer join) measured 3; the
    // four-branch union it replaced measured 8
    assert(jobs <= 3, s"snapshot fixed job count regressed: $jobs")
    // 5 invalidated + 5 changed (closed and new) + 30 unchanged + 5 new
    assert(spark.table(ref.render).count() == 50)
  }

  test("dynamic insert_overwrite stays within its fixed job budget") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = TableRef("default.jc_dyn")
    Materializer.table(spark, ref,
      (1 to 20).map(i => (i.toLong, s"p${i % 3}")).toDF("id", "pt"), part)
    val jobs = countJobs {
      Incremental.insertOverwriteDynamic(spark, ref,
        Seq((100L, "p1")).toDF("id", "pt"), part)
    }
    info(s"dynamic overwrite jobs = $jobs")
    assert(jobs <= 6, s"dynamic overwrite fixed job count regressed: $jobs")
  }

  test("r6 multi-stage llm queries stay within fixed job budgets") {
    // the three round-5 additions with multi-stage plans (decomposed top-q,
    // sharded packing, cluster-canonicalize-over-full-pipeline): pin their
    // job diets like the m-family so a silently added pass fails here, not
    // as a bench regression
    val dir = "/root/testdata/sf0.001"
    // measured at sf0.001: t07 12 (3 aggregates + 3 windows + join under
    // AQE), t08 4, d09 43 (shingle pipeline + O(log L) pointer-jumping
    // rounds, each a few AQE stage jobs — data-dependent, so the widest
    // headroom)
    for ((name, budget) <- Seq("t07_quality_topq" -> 15,
        "t08_sequence_pack" -> 6, "d09_cluster_keep" -> 50)) {
      val jobs = countJobs {
        assert(SparkEntry.queries(name)(spark, dir).count() > 0)
        spark.catalog.clearCache()
      }
      info(s"$name jobs = $jobs (budget $budget)")
      assert(jobs <= budget, s"$name fixed job count regressed: $jobs")
    }
  }

  test("r6/r7 query additions stay within fixed job budgets") {
    // the flat-plan additions (chunking, diversity, vocabulary, unigram LM,
    // line dedup, url canon, decontaminate, frequency-cap sample): each is
    // one or two aggregates/joins — pin the diet so a silently added pass
    // (an extra count, a re-materialization) fails here, not as a bench
    // regression. Budgets = measured at sf0.001 + headroom for AQE
    // stage-materialization jitter.
    val dir = "/root/testdata/sf0.001"
    for ((name, budget) <- Seq(
        "t09_token_chunking" -> 4,
        "t10_lexical_diversity" -> 5,
        "t11_vocabulary" -> 6,
        "t12_unigram_logprob" -> 8,
        // +1 r11: the derived marker offset costs one max(doc_id) scalar
        "t13_line_dedup" -> 7,
        "t14_url_canon" -> 4,
        "d10_decontaminate" -> 9,
        "d11_cap_sample" -> 7,
        // t16 derives the token stream twice (tf join probe + df build);
        // the N branch is explode-free off the docs scan (r8) — measured
        // 11. (A persist of tf was tried and rejected: the columnar
        // encode cost 9× the re-scans it saves.)
        "t16_tfidf_terms" -> 12,
        "t17_cms_counts" -> 8,
        // t18 (r8): ONE fused per-doc aggregate (dl + conditional tf per
        // term), stats diamond re-derives it once — measured 5, was 12
        // in the dl/tf/df tri-derivation shape
        "t18_bm25_rank" -> 6,
        "q30_approx_quantiles" -> 5,
        "t20_quality_rules" -> 4,
        // t21: bigram model + ctx + V aggregates + score join (t12's
        // shape with one extra vocab-sized aggregate)
        "t21_bigram_logprob" -> 10,
        "mm05_image_ahash" -> 4)) {
      val jobs = countJobs {
        assert(SparkEntry.queries(name)(spark, dir).count() > 0)
        spark.catalog.clearCache()
      }
      info(s"$name jobs = $jobs (budget $budget)")
      assert(jobs <= budget, s"$name fixed job count regressed: $jobs")
    }
  }

  test("IVF-PQ stays within its fixed job budget (local codebook fit)") {
    // the PQ codebook fit is ONE collected bounded sample + driver-local
    // Lloyd's; the distributed form it replaced scheduled ~m·maxIter tiny
    // KMeans jobs (s09 7.8 → 2.8 s at sf0.1). r8 moved the COARSE quantizer
    // to the same local fit — measured 7 at sf0.001 (was 29 with the ml
    // fit); a re-distributed fit anywhere would blow past this by dozens
    val dir = "/root/testdata/sf0.001"
    val jobs = countJobs {
      assert(SparkEntry.queries("s09_cosine_topk_ivf_pq")(spark, dir)
        .count() > 0)
      spark.catalog.clearCache()
    }
    info(s"s09 jobs = $jobs")
    // r13: ONE shared sample pool feeds both the coarse and the PQ fit
    // (was one count+collect pair per fit) — measured 8, was 10
    assert(jobs <= 10, s"s09 fixed job count regressed: $jobs")
  }

  test("IVF family stays within fixed job budgets (local coarse fit)") {
    // r8: the coarse quantizer moved from distributed ml.KMeans (~maxIter
    // tiny cluster jobs per fit, paid by every IVF-family query) to the
    // same collected-sample driver-local Lloyd's as the PQ codebooks — one
    // bounded collect per fit. These budgets would be blown by dozens if a
    // distributed fit ever came back.
    val dir = "/root/testdata/sf0.001"
    // measured at sf0.001: s05 6, s07 6, s08 7, s10 9 (each = sample
    // collect + gate pipeline under AQE) + headroom for stage jitter
    for ((name, budget) <- Seq(
        "s05_cosine_topk_ivf" -> 10,
        "s07_cosine_topk_ivf_int8" -> 10,
        "s08_semantic_dedup" -> 11,
        "s10_knn_graph" -> 13)) {
      val jobs = countJobs {
        assert(SparkEntry.queries(name)(spark, dir).count() > 0)
        spark.catalog.clearCache()
      }
      info(s"$name jobs = $jobs (budget $budget)")
      assert(jobs <= budget, s"$name fixed job count regressed: $jobs")
    }
  }

  test("r9 query additions stay within fixed job budgets") {
    val dir = "/root/testdata/sf0.001"
    for ((name, budget) <- Seq(
        "t22_substring_dedup" -> 8,   // gram explode + dup-set + semi-join under AQE
        "d15_robust_outliers" -> 10,  // two grouped percentile passes + stats joins (measured 8)
        "s12_cosine_topk_imi" -> 10,  // codebook sample collect + gate pipeline
        "mm06_audio_frame_features" -> 4,   // one decode pass
        "dt02_profile" -> 4,   // fused per-column agg union: one action (measured 3)
        "d16_incremental_dedup" -> 8,  // store distinct + anti-join + keep-min (measured 6)
        "d17_group_split" -> 8,        // two aggregates + broadcast leak gate (measured 6)
        // r10: decomposed running sum — distinct-score table + classify
        // join + boundary window (measured 8; the old single-window form
        // was 4 jobs but sorted whole strata in one task); r12 adds ONE
        // job: the size-gate count() off the persisted classify table
        // (r11 advisory — broadcast only when provably small). Measured 11.
        "t23_token_budget" -> 12,
        "j01_jsonl_ingest" -> 8,       // serialize + text write + parse + agg
        "j02_provenance" -> 8,         // partitioned write + provenance agg
        "d18_incremental_neardup" -> 10)) { // two sig pipelines + band probe
      val jobs = countJobs {
        assert(SparkEntry.queries(name)(spark, dir).count() > 0)
        spark.catalog.clearCache()
      }
      info(s"$name jobs = $jobs (budget $budget)")
      assert(jobs <= budget, s"$name fixed job count regressed: $jobs")
    }
  }

  test("r10 query additions stay within fixed job budgets") {
    val dir = "/root/testdata/sf0.001"
    for ((name, budget) <- Seq(
        // 2 store writes + offset scalar + checkpoint fills + the gate
        // frame's 4 single-row aggregates and full-outer sym-diff, each
        // shuffle branch paying an AQE stage job (measured 29) — the
        // query runs the dedup pipeline THREE times by design (two-step,
        // one-shot twin, store accounting)
        "d19_store_append" -> 34,
        "d20_robust_outliers_gk" -> 14,  // exact + GK twin profiles joined
        // 2 sig-store writes + TWO full near-dup probes (sign + band
        // probe + estimate verify each) + 3 count scalars (measured 35)
        "d21_neardup_store_append" -> 40,
        "dt03_profile_hll" -> 6,   // fused union, one action (exact + HLL branches; measured 4)
        "j03_ingest_chain" -> 18,
        // eval collect + one mapPartitions corpus pass (measured 4)
        "d22_semantic_decontaminate" -> 6,
        // centroid collect + assignment projection + TopKAgg (measured 5)
        "d23_diverse_sample" -> 8,
        // one corpus scan + two slab checkpoints + the decontaminate and
        // budget stages' AQE jobs (measured 13 with exactRows)
        "p01_curation_pipeline" -> 18,
        // construction + exactRows + minhash band self-join + CC rounds +
        // semantic stage + 4 gate aggregates (measured 52)
        "p02_curation_pipeline_approx" -> 62,
        // two grouped bin counts + stats/totals scalars (measured 8)
        "dt04_drift_psi" -> 11,
        // word-count agg + TakeOrdered + single-row fit (measured 5)
        "t25_zipf_audit" -> 8,
        // encode+decode mapPartitions + islands windows + seg aggregate
        "mm07_audio_vad" -> 8,
        // label hash join + two-phase TopKAgg (measured 3)
        "s14_cosine_topk_filtered" -> 6,
        // r11: four codec screens, each a checkpoint slab + keep-set join;
        // the count is AQE sub-stage materialization jobs (tiny [1]-[3]
        // task stages), fixed in number — not per-row work (measured 75)
        "p03_curation_multimodal" -> 85,
        // r13: offset scalar + one bucket-probe join + verify + gate agg
        // (measured 5)
        "d24_incremental_semantic_neardup" -> 8,
        // r13: 2 vector-store writes + two probes + 3 count scalars (the
        // d21 shape in embedding space; measured 31)
        "d25_semantic_store_append" -> 36)) {
      val jobs = countJobs {
        assert(SparkEntry.queries(name)(spark, dir).count() > 0)
        spark.catalog.clearCache()
      }
      info(s"$name jobs = $jobs (budget $budget)")
      assert(jobs <= budget, s"$name fixed job count regressed: $jobs")
    }
  }

  test("fused data-test run computes all counts in one action") {
    import graft.exec.DataTests
    import graft.exec.DataTests._
    val orders = (1 to 200).map(i => (i.toLong, s"s${i % 3}"))
      .toDF("o_orderkey", "o_orderstatus")
    val lineitem = (1 to 400).map(i => (i.toLong % 100, i.toLong))
      .toDF("l_orderkey", "l_linenumber")
    val tests = Seq(
      Test("uniq", unique(lineitem, Seq("l_orderkey"))),
      Test("nn", notNull(orders, "o_orderstatus")),
      Test("acc", acceptedValues(orders, "o_orderstatus", Seq("s0", "s1", "s2"))),
      Test("rel", relationships(lineitem, "l_orderkey", orders, "o_orderkey")))
    val jobs = countJobs {
      val rs = DataTests.run(spark, tests)
      assert(rs.map(_.name) == Seq("uniq", "nn", "acc", "rel"))
      assert(rs.find(_.name == "uniq").get.failures > 0)
      assert(rs.find(_.name == "nn").get.failures == 0)
    }
    info(s"fused 4-test run jobs = $jobs")
    // one collect over ONE grouped count of the tagged union: AQE adds a
    // stage-materialization job per shuffle or broadcast (unique's
    // groupBy, the relationships broadcast, the grouped count) — measured
    // 4, run CONCURRENTLY inside one action, not one job per test
    assert(jobs <= 4, s"fused data-test job count regressed: $jobs")
  }

  test("j03 ingest chain stays within its fixed job budget") {
    // the composed quarantine→provenance→dedup chain is ONE staged write
    // (serialize the batch), the id-offset scalar, the parsed-batch cache
    // fill, and one final aggregate action over the cached scan — an
    // accidental extra pass (e.g. re-reading the JSONL per branch instead
    // of through the cache) lands well above the bound
    val jobs = countJobs {
      val out = graft.LlmQueries.queries("j03_ingest_chain")(
        spark, "/root/testdata/sf0.001").collect()
      assert(out.length == 4)
      assert(out.map(_.getAs[Long]("n_kept")).sum > 0)
    }
    info(s"j03 chain jobs = $jobs")
    // measured 15 under AQE (offset scalar + staged text write + cache
    // fill + one aggregate action whose shuffle branches each materialize
    // a stage job); a second uncached pass over the JSONL adds 4+
    assert(jobs <= 18, s"j03 chain job count regressed: $jobs")
    spark.catalog.clearCache()
  }

  test("persisted-index search runs ZERO fit jobs") {
    import graft.llm.IndexStore
    val emb = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
    val root = java.nio.file.Files.createTempDirectory("jcix") + "/s"
    IndexStore.train(spark, root, emb, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, seed = 42L)
    IndexStore.appendCodes(spark, root, 0L, emb)
    val jobs = countJobs {
      val n = IndexStore.searchTopK(spark, root, emb,
        emb.filter($"vec_id" < 10), k = 5, nprobe = 3, rerank = 32).count()
      assert(n == 50L)
    }
    info(s"persisted-index search jobs = $jobs")
    // measured 9 with the r15 per-root quantizer cache (the append above
    // warmed it; r14 measured 17 — the difference is exactly the four
    // bounded artifact collects the cache elides, safe because the
    // artifact is immutable by contract): the codes-scan footer job plus
    // the search action's AQE stage jobs. NOTE the fit-per-query path
    // measures FEWER jobs (11) — but two of those are a corpus COUNT and
    // a corpus-scale sample collect, and the action hides a full corpus
    // encode; the store path's jobs are all metadata-sized. The pin is
    // against a re-fit creeping into the search path: its count + pool
    // collect + per-corpus encode stages land well past this bound
    assert(jobs <= 12, s"persisted-index search job count regressed: $jobs")
  }

  test("flat/int8/IMI store searches run ZERO fit jobs") {
    import graft.llm.IndexStore
    val emb = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.filter($"vec_id" < 10)
    val base = java.nio.file.Files.createTempDirectory("jcix2")
    // build all three stores OUTSIDE the counted window (warms the
    // artifact caches too — searches must not even reload the artifacts)
    IndexStore.trainIvf(spark, s"$base/flat", emb, dim = 64, nlist = 8)
    IndexStore.appendFlat(spark, s"$base/flat", 0L, emb)
    IndexStore.trainIvf(spark, s"$base/int8", emb, dim = 64, nlist = 8)
    IndexStore.appendInt8(spark, s"$base/int8", 0L, emb)
    IndexStore.trainImi(spark, s"$base/imi", emb, dim = 64, kA = 8, kB = 8)
    IndexStore.appendImi(spark, s"$base/imi", 0L, emb)
    // a fit leaking back into any search leg adds a corpus count + pool
    // collect + (for IMI) a second assignment pass — each lands well past
    // these bounds (the fit-per-query twins measure 11+ jobs)
    val flatJobs = countJobs {
      assert(IndexStore.searchTopKFlat(spark, s"$base/flat", q, k = 5,
        nprobe = 3).count() == 50L)
    }
    info(s"flat store search jobs = $flatJobs")
    assert(flatJobs <= 6, s"flat store search job count regressed: $flatJobs")
    val i8Jobs = countJobs {
      assert(IndexStore.searchTopKInt8(spark, s"$base/int8", emb, q, k = 5,
        nprobe = 3, rerank = 4).count() == 50L)
    }
    info(s"int8 store search jobs = $i8Jobs")
    assert(i8Jobs <= 10, s"int8 store search job count regressed: $i8Jobs")
    val imiJobs = countJobs {
      assert(IndexStore.searchTopKImi(spark, s"$base/imi", q, k = 5,
        nprobe = 16).count() == 50L)
    }
    info(s"IMI store search jobs = $imiJobs")
    assert(imiJobs <= 8, s"IMI store search job count regressed: $imiJobs")
  }

  test("store merge runs ZERO fit and ZERO encode jobs") {
    import graft.llm.IndexStore
    val emb = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
    val base = java.nio.file.Files.createTempDirectory("jcmerge")
    val rq = IndexStore.train(spark, s"$base/a", emb, dim = 64, nlist = 8,
      m = 8, codebookSize = 16, seed = 42L)
    IndexStore.saveQuantizer(spark, s"$base/b", rq)
    IndexStore.appendCodes(spark, s"$base/a", 0L,
      emb.filter($"vec_id" % 2 === 0))
    IndexStore.appendCodes(spark, s"$base/b", 0L,
      emb.filter($"vec_id" % 2 === 1))
    val jobs = countJobs {
      assert(IndexStore.mergeStores(spark, s"$base/m",
        Seq(s"$base/a", s"$base/b")) == Seq(true, true))
    }
    info(s"store merge jobs = $jobs")
    // r18 measured 18 (4-dir artifact layout: 4 kilobyte-parquet collects
    // per uncached load, 4 writes per commit); the r19 single-frame
    // layout cuts each to ONE read+collect / ONE write — measured 9. A
    // fit (corpus count + sample collect + kmeans passes) or an encode
    // (corpus-scale projection) creeping in lands well past this bound —
    // merge must move the index, never the data
    assert(jobs <= 12, s"store merge job count regressed: $jobs")
  }

  test("index-store lifecycle job diet (r19): one-write artifact commit, " +
      "one-collect cold load, job-free replay markers") {
    import graft.llm.IndexStore
    val emb = Tables.t(spark, "/root/testdata/sf0.001", "embeddings")
    val base = java.nio.file.Files.createTempDirectory("jcdiet")
    val trainJobs = countJobs {
      IndexStore.train(spark, s"$base/a", emb, dim = 64, nlist = 8,
        m = 8, codebookSize = 16, seed = 42L)
    }
    info(s"train jobs = $trainJobs")
    // fit sample count + sample collect + ONE artifact write (the r18
    // four-dir layout wrote four) — k-means itself is driver-local
    assert(trainJobs <= 4, s"train job count regressed: $trainJobs")
    IndexStore.appendCodes(spark, s"$base/a", 0L, emb)
    // cold load: copy the committed artifact to a fresh root (the per-root
    // cache keys by path, so the copy loads cold) — one read+collect pair
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(base.toString).getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(s"$base/a/quantizer"),
      fs, new org.apache.hadoop.fs.Path(s"$base/cold/quantizer"),
      false, conf)
    val loadJobs = countJobs {
      IndexStore.loadQuantizer(spark, s"$base/cold")
    }
    info(s"cold load jobs = $loadJobs")
    assert(loadJobs <= 2, s"cold artifact load job count regressed: $loadJobs")
    // replay marker: a ledger entry only — a file rename, no Spark job
    val markJobs = countJobs {
      assert(IndexStore.markBatchCommitted(spark, s"$base/a", 7L))
    }
    info(s"replay marker jobs = $markJobs")
    assert(markJobs == 0, s"a replay marker ran Spark jobs: $markJobs")
    // and the marker really commits the id: replay no-ops, content unchanged
    assert(!IndexStore.markBatchCommitted(spark, s"$base/a", 7L))
    assert(!IndexStore.appendCodes(spark, s"$base/a", 7L, emb))
    assert(IndexStore.readCodes(spark, s"$base/a").count() == emb.count())
  }

  test("compactCodes runs the same job count folding 2 or 8 ingest segments") {
    import graft.llm.{IndexStore, Similarity}
    // 400 deterministic 16-dim vectors: the fold's job count, not the
    // data, is under test
    val emb = spark.range(400).select(col("id").as("vec_id"),
      array((1 to 16).map(j => sin(col("id") * j)): _*).as("embedding"))
    val base = java.nio.file.Files.createTempDirectory("jccompact")
    val rq = IndexStore.train(spark, s"$base/fit", emb, dim = 16, nlist = 8,
      m = 4, codebookSize = 16, seed = 42L)
    // encode once; each segment is a slice of the slab
    val codes = Similarity.encodeResidual(emb, rq).localCheckpoint()
    def jobsFolding(segments: Int): Int = {
      val root = s"$base/s$segments"
      assert(IndexStore.saveQuantizer(spark, root, rq))
      (0 until segments).foreach(i => IndexStore.appendEncoded(spark, root,
        i.toLong, codes.filter(col("corpus_id") % segments === i)))
      val n = countJobs { IndexStore.compactCodes(spark, root); () }
      assert(IndexStore.readCodes(spark, root).count() == emb.count())
      n
    }
    val (two, eight) = (jobsFolding(2), jobsFolding(8))
    info(s"compactCodes jobs: 2 segments = $two, 8 segments = $eight")
    // the fold's cost must not grow with the number of ids it retires
    assert(two == eight, s"compactCodes jobs grew with segments: $two vs $eight")
  }

  test("streaming store replay rows stay within their fixed job budgets") {
    // one row per replay shape, each the shared slab lander + two-drain
    // replay harness: m19 (two 1-file slabs into a DedupStore stream,
    // output dir + store snapshots), m29 (three slabs into the index
    // stream, store-only snapshots), p05 (two 4-file slabs into the export
    // stream). Budgets = the counts measured at sf0.001 before the harness
    // existed (the same in two separate runs): the harness adds no job.
    val dir = "/root/testdata/sf0.001"
    for ((name, budget) <- Seq(
        "m19_streaming_store_dedup" -> 38,
        "m29_streaming_index_ingest" -> 35,
        "p05_streaming_export" -> 36)) {
      val jobs = countJobs {
        assert(SparkEntry.queries(name)(spark, dir).count() > 0)
        spark.catalog.clearCache()
      }
      info(s"$name jobs = $jobs (budget $budget)")
      assert(jobs <= budget, s"$name fixed job count regressed: $jobs")
    }
  }
}
