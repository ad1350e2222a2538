package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SimpleMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

/** 100 TB-discipline regression tests: the physical plans the engine
  * produces must keep their scale-critical properties — filters pushed to
  * the parquet scan, columns pruned, small dimensions broadcast, partial
  * (map-side) aggregation. A correctness-preserving change that loses one
  * of these would be a silent 100× regression at scale. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(SimpleMode)

  test("filter+project query pushes predicates into the parquet scan") {
    val p = plan("q03_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"filters not pushed:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "range not pushed")
    // column pruning: scan must not read all 11 lineitem columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_tax"), s"scan not pruned: $readSchema")
  }

  test("star join broadcasts every dimension (no shuffle join)") {
    val p = plan("q02_join_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3, s"expected 3 broadcasts:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ:\n$p")
  }

  test("aggregation is partial (map-side combine) before the shuffle") {
    val p = plan("q01_agg_pricing")
    assert(p.contains("partial_sum"), s"no map-side partial agg:\n$p")
    val executed = SparkEntry.queries("q01_agg_pricing")(spark, dir)
    executed.collect() // AQE finalizes the physical plan on execution
    // codegen'd operators carry the `*(stageId)` marker in the tree string
    assert(executed.queryExecution.executedPlan.toString.contains("*("),
      "agg pipeline not whole-stage-codegen'd")
    // one shuffle for the groupBy (+ one for the final orderBy), nothing more
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"extra shuffles:\n$p")
  }

  test("semi/anti joins stay joins (no subquery materialization)") {
    assert(plan("q04_semi_join").contains("LeftSemi"))
    assert(plan("q05_anti_join").contains("LeftAnti"))
  }

  test("scalar subquery is broadcast, not recomputed per row") {
    val p = plan("q13_scalar_subquery")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"scalar agg not broadcast:\n$p")
  }

  test("eight-relation market-share join broadcasts dims and pushes filters") {
    val p = plan("q28_market_share")
    assert(!p.contains("CartesianProduct"), s"cartesian appeared:\n$p")
    // p_size and the date range reach the parquet scans
    assert(p.contains("LessThanOrEqual(p_size,25)"), s"p_size not pushed:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), s"date not pushed:\n$p")
    // small dims broadcast; the single big-table (lineitem) side may shuffle
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      s"dims not broadcast:\n$p")
  }

  test("correlated scalar subqueries de-correlate to aggregate + join") {
    val opt = SparkEntry.queries("q24_correlated_subquery")(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(opt.contains("Join"), s"not de-correlated:\n$opt")
    assert(opt.toLowerCase.contains("aggregate"), s"no aggregate:\n$opt")
  }

  test("brute-force top-k broadcasts the query side; rank aggregated not windowed") {
    val p = plan("s01_cosine_topk_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query side not broadcast:\n$p")
    // the corpus scan funnels into the bounded-heap two-phase top-k, never
    // a per-query window sort (the last single-reducer shape, closed in r8)
    assert(!p.contains("Window"), s"window rank reappeared:\n$p")
    assert(p.contains("partial_topkagg"), s"top-k agg not partial:\n$p")
  }

  test("IVF top-k: centroid assignment is shuffle-free, final rank aggregated") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
    val p = graft.llm.Similarity
      .ivfTopK(spark, emb, q, k = 5, nlist = 4, nprobe = 2)
      .queryExecution.explainString(SimpleMode)
    // The ONLY hash exchange allowed is the final top-k groupBy(query_id).
    // Nearest-centroid assignment must be a pure projection (argmax over the
    // broadcast centroid array) — the former crossJoin+window shape shuffled
    // corpus×nlist rows, a ~PB exchange at 100 TB / nlist=1024.
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"assignment or rank reintroduced a shuffle:\n$p")
    // no per-query single-reducer window anywhere in the plan
    assert(!p.contains("Window"), s"window rank reappeared:\n$p")
    // and the rank aggregate combines map-side (partial before the exchange)
    assert(p.contains("partial_topkagg"), s"top-k agg not partial:\n$p")
  }

  test("quantized IVF: corpus never hash-exchanged; both top-k aggs partial") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
    val p = graft.llm.Similarity
      .ivfTopKQuantized(spark, emb, q, k = 5, nlist = 4, nprobe = 2, rerank = 2)
      .queryExecution.explainString(SimpleMode)
    // the ONLY hash exchanges are the two bounded top-k aggregates
    // (candidate select + final rank), both over ≤ rerank·k rows per query;
    // centroid assignment is a projection, the inverted-list scan and the
    // exact re-rank are broadcast joins — the corpus is never shuffled
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"corpus-side shuffle appeared:\n$p")
    assert(!p.contains("Window"), s"window rank reappeared:\n$p")
    assert("partial_topkagg".r.findAllIn(p).size == 2,
      s"expected two partial top-k aggs:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"re-rank join not broadcast:\n$p")
  }

  test("LSH top-k: candidate join broadcast, final rank aggregated not windowed") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
    val p = graft.llm.Similarity
      .lshTopK(emb, q, k = 5, dim = 64, bits = 6, probeBits = 2)
      .queryExecution.explainString(SimpleMode)
    assert(p.contains("BroadcastHashJoin"), s"bucket join not broadcast:\n$p")
    assert(!p.contains("Window"), s"window rank reappeared:\n$p")
    assert(p.contains("partial_topkagg"), s"top-k agg not partial:\n$p")
    // two exchanges total: candidate dedup groupBy(query,corpus) + final top-k
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"extra shuffles:\n$p")
  }

  test("IVF-PQ: encode is a projection; corpus never hash-exchanged") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
    val p = graft.llm.Similarity
      .ivfTopKPQ(spark, emb, q, k = 5, dim = 64, nlist = 4, nprobe = 2,
        m = 8, codebookSize = 4, rerank = 2)
      .queryExecution.explainString(SimpleMode)
    // same budget as the int8 path: the ONLY hash exchanges are the two
    // bounded top-k aggregates; centroid assignment AND the PQ encode are
    // projections over plan literals, the ADC scan and exact re-rank are
    // broadcast joins — the corpus is never shuffled
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"corpus-side shuffle appeared:\n$p")
    assert(!p.contains("Window"), s"window rank reappeared:\n$p")
    assert("partial_topkagg".r.findAllIn(p).size == 2,
      s"expected two partial top-k aggs:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"re-rank join not broadcast:\n$p")
  }

  test("capSample: count-aggregate join back, no window, filter is per-row") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.llm.Sampling
      .capSample(docs, org.apache.spark.sql.functions.col("text"),
        org.apache.spark.sql.functions.col("lang"), cap = 72)
      .queryExecution.explainString(SimpleMode)
    assert(!p.contains("Window"), s"window appeared:\n$p")
    // one exchange: the per-stratum count aggregate (map-side combined);
    // the join back rides a broadcast of the tiny counts side
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"extra shuffles:\n$p")
    assert(p.contains("partial_count"), s"count agg not partial:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"counts join not broadcast:\n$p")
  }

  test("bloom containment: word table broadcast, no window, partial aggs") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "text")
    val p = graft.llm.Dedup.bloomContainment(
        docs.filter("doc_id % 10 <> 0"), docs.filter("doc_id % 10 = 0"))
      .queryExecution.explainString(SimpleMode)
    // the probe side must join the (word_idx, word) table as a BROADCAST —
    // a shuffle join here would re-exchange every train-shingle probe row
    assert(p.contains("BroadcastHashJoin"), s"word table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"probe join shuffled:\n$p")
    assert(!p.contains("Window"), s"window appeared:\n$p")
    // word build (bit_or), per-shingle bool_and, per-doc count: map-side
    assert("partial_".r.findAllIn(p).size >= 3,
      s"expected three partial aggregates:\n$p")
  }

  test("dedupSegments: aggregate + join shapes only, no window") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.llm.TextOps.dedupSegments(docs, sep = " ", maxDf = 100)
      .queryExecution.explainString(SimpleMode)
    assert(!p.contains("Window"), s"window appeared:\n$p")
    // every aggregate map-side combines: (fp,doc), (fp), and the per-doc
    // reassembly all show partial phases before their exchanges
    assert("partial_".r.findAllIn(p).size >= 3,
      s"expected three partial aggregates:\n$p")
  }

  test("tfidf: df join broadcast; N branch explode-free; one window by doc") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.llm.TextOps.tfidfTopTerms(docs, k = 3, minDf = 2)
      .queryExecution.explainString(SimpleMode)
    // the vocab-sized df table and the 1-row N must both ride broadcasts —
    // a shuffle join would re-exchange the (doc, token) tf stream
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1 &&
      p.contains("BroadcastNestedLoopJoin"),
      s"df/N not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"tf stream shuffled for join:\n$p")
    // r8: the N branch must NOT re-derive the token stream — it counts
    // docs with size(tokens) > 0 off the docs scan, no explode. Only the
    // tf and df branches explode (2, not 3).
    assert("Generate explode".r.findAllIn(p).size == 2,
      s"N branch re-derives the token stream:\n$p")
    // per-doc rank is legitimate (partition = one doc's vocabulary, bounded
    // by doc length): exactly one window, keyed by the doc id
    assert("Window \\[".r.findAllIn(p).size == 1, s"window count:\n$p")
    assert(p.contains("partial_count"), s"tf agg not partial:\n$p")
  }

  test("CMS: sketch is one partial aggregate; lookups probe a broadcast") {
    import graft.llm.Sketches
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(org.apache.spark.sql.functions.explode(
        graft.llm.TextOps.tokens(org.apache.spark.sql.functions.col("text")))
        .as("token"))
    val sketch = Sketches.cmsTable(toks, "token")
    val pb = sketch.queryExecution.explainString(SimpleMode)
    assert(pb.contains("partial_count"), s"cell counts not map-side:\n$pb")
    assert(!pb.contains("Window") && !pb.contains("SortMergeJoin"),
      s"sketch build grew a window/shuffle join:\n$pb")
    val p = Sketches.cmsLookup(toks.distinct(), sketch, "token")
      .queryExecution.explainString(SimpleMode)
    assert(p.contains("BroadcastHashJoin"), s"sketch not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"probe stream shuffled:\n$p")
  }

  test("bm25: one fused per-doc aggregate; stats ride a broadcast") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.llm.TextOps.bm25(docs, Seq("join", "scan"), topN = 10)
      .queryExecution.explainString(SimpleMode)
    // r8 shape: dl + per-term conditional tf in ONE corpus-scale aggregate
    // (sum(CASE WHEN token = t ...)); the old tri-derivation (dl twice,
    // tf, df) scanned the corpus four times and joined tf⋈dl. The
    // stateless diamond (stats + scoring) re-derives the per-doc frame
    // exactly twice — a third scan means a branch regressed.
    assert("Scan parquet".r.findAllIn(p).size == 2,
      s"per-doc frame derivations changed:\n$p")
    assert(p.contains("CASE WHEN") && p.contains("= join") &&
      p.contains("= scan"), s"conditional tf columns missing:\n$p")
    assert(!p.contains("Window"), s"window appeared:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N is not a distributed TakeOrdered:\n$p")
    assert(!p.contains("SortMergeJoin"), s"stats join shuffled:\n$p")
    // the 1-row stats frame rides a broadcast nested-loop cross join
    assert(p.contains("BroadcastNestedLoopJoin"), s"stats not broadcast:\n$p")
  }

  test("gopherRules: one projection — no exchange, no join, no window") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.llm.TextOps.gopherRules(docs, minWords = 20)
      .queryExecution.explainString(SimpleMode)
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("Window"), s"rule filter is not a pure projection:\n$p")
  }

  test("mm05 aHash pair: single mapPartitions pass, no exchange") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter("doc_id < 50")
    val p = graft.llm.Multimodal.ahashPair(docs, "doc_id")
      .queryExecution.explainString(SimpleMode)
    // the PNG/JPEG pair is hashed where it is synthesized — a shuffle
    // between encode and hash would move payload bytes across the cluster
    assert(!p.contains("Exchange"), s"payloads crossed a shuffle:\n$p")
  }

  test("substringDupSignal: gram-shuffle joins only — no window, no cartesian") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val p = graft.llm.TextOps.substringDupSignal(docs, w = 8)
      .queryExecution.explainString(SimpleMode)
    // Lee-et-al gram dedup is word-count-shaped: explode + hash aggregate
    // + semi-join back; an all-pairs or windowed form would not scale
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"all-pairs shape:\n$p")
    assert(!p.contains("Window"), s"window appeared:\n$p")
    assert(p.contains("LeftSemi"), s"dup membership is not a semi join:\n$p")
  }

  test("maxCosToRef: one mapPartitions pass — zero exchange to the flag") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = graft.llm.Similarity.semanticDecontaminate(
        emb.filter(col("vec_id") % 10 =!= 7),
        emb.filter(col("vec_id") % 10 === 7), threshold = 0.9)
      .queryExecution.explainString(SimpleMode)
    // the eval set rides a broadcast VARIABLE; a per-row max that
    // exchanged corpus rows (crossJoin+groupBy) would shuffle the corpus
    assert(!p.contains("Exchange"), s"decontamination flag crossed a shuffle:\n$p")
    assert(!p.contains("Window"), s"window appeared:\n$p")
  }

  test("clusterBalancedSample: partial TopKAgg, one exchange of heap rows") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    val cents = emb.filter(col("vec_id") < 8).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1))).toSeq
    val scored = graft.llm.Similarity.nearestCentroids(emb, cents)
      .select(col("centroid_id"), col("corpus_id").as("vec_id"))
      .withColumn("score", col("vec_id") % 97 / 97.0)
    val p = graft.llm.Sampling.clusterBalancedSample(scored, 3,
        clusterCol = "centroid_id", scoreCol = "score", idCol = "vec_id")
      .queryExecution.explainString(SimpleMode)
    // selection is ONE aggregate: map-side partial bounded heaps, a single
    // exchange of ≤ perCluster-entry heaps + counts per cluster — the
    // per-cluster row_number window form would sort corpus/n_clusters rows
    assert(p.contains("partial_topkagg"), s"no map-side partial heap:\n$p")
    assert(!p.contains("Window"), s"per-cluster window appeared:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one exchange:\n$p")
  }

  test("driftPsi: grouped bin counts partial; stats and totals broadcast") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_extendedprice"), col("l_shipdate"))
    val p = graft.exec.DataTests.driftPsi(
        li.filter(col("l_shipdate") < org.apache.spark.sql.functions
          .lit("1998-01-01").cast("timestamp")),
        li.filter(col("l_shipdate") >= org.apache.spark.sql.functions
          .lit("1998-01-01").cast("timestamp")), "l_extendedprice")
      .queryExecution.explainString(SimpleMode)
    // everything past the two map-side-combined grouped counts is
    // bins-sized; the min/max scalars and totals ride broadcasts
    assert(p.contains("partial_count"), s"bin counts not map-side partial:\n$p")
    assert(!p.contains("Window"), s"window appeared:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian appeared:\n$p")
    assert("BroadcastNestedLoopJoin|BroadcastHashJoin".r.findAllIn(p).nonEmpty,
      s"stats/totals not broadcast:\n$p")
  }

  test("groupSplit: pure per-row projection — no exchange, no join") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"))
    val p = graft.llm.Sampling.groupSplit(docs, col("source"))
      .queryExecution.explainString(SimpleMode)
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("Window"), s"split assignment is not per-row:\n$p")
  }

  test("tokenBudget: decomposed — per-row windows only inside the boundary group") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"),
        graft.llm.TextOps.tokenCount(col("text")).cast("bigint").as("n_tokens"),
        graft.llm.TextOps.qualityScore(col("text")).as("quality"))
    val out = graft.llm.Sampling.tokenBudget(docs, col("lang"), col("n_tokens"),
        col("quality"), col("doc_id"), budget = 3000L)
    val p = out.queryExecution.explainString(SimpleMode)
    // r10 decomposed shape, r12 persisted: the classify cumsum windows ride
    // the DISTINCT-SCORE aggregate — since r12 that table is persisted
    // (size-gated broadcast, r11 advisory), so they appear inside the
    // InMemoryRelation's inlined cached plan, keyed by the stratum alone
    // (they sort score VALUES of the tiny table, never corpus rows). The
    // only per-ROW window (running sum to current row) partitions by BOTH
    // (stratum, score) — the boundary group — never by the stratum alone
    // over the raw scan. The old one-window form sorted entire strata in
    // single tasks.
    val windows = p.linesIterator.filter(_.contains("Window [")).map { l =>
      val keys = "\\], \\[([^\\]]*)\\], \\[[^\\]]*\\]\\s*$".r
        .findFirstMatchIn(l).map(_.group(1)).getOrElse("")
      (l, keys)
    }.toSeq
    val perRow = windows.filter(_._1.contains("currentrow"))
    val classify = windows.filterNot(_._1.contains("currentrow"))
    assert(perRow.size == 1, s"expected ONE per-row boundary window:\n$p")
    assert(perRow.head._2.split(",").length >= 2,
      s"boundary window must partition by (stratum, score):\n$p")
    assert(classify.nonEmpty && classify.forall(_._2.split(",").length == 1),
      s"classify windows ride the distinct-score table keyed by stratum:\n$p")
    // the classify side is the persisted distinct-score table…
    assert(p.contains("InMemoryTableScan"),
      s"classify side must probe the persisted table:\n$p")
    // …and the classification joins back broadcast (provably small side)
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast classify join:\n$p")
  }

  test("bucketed range join: hash equi-join on the bucket, never a nested loop over data") {
    val p = plan("q32_bucketed_range_join")
    assert(!p.contains("CartesianProduct"), s"cartesian range join:\n$p")
    // the only permitted nested-loop is the one-row day-anchor attach;
    // the events-side range predicate must ride the bucket equi-join
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"range predicate fell to a nested loop over the data:\n$p")
    assert(p.contains("Generate explode"), s"no interval→bucket expansion:\n$p")
    assert("(BroadcastHashJoin|SortMergeJoin) \\[b#".r.findFirstIn(p).nonEmpty,
      s"no hash equi-join on the bucket id:\n$p")
  }

  test("KMV sketches aggregate map-side partial; estimator is one-row math") {
    val p = plan("q35_kmv_intersection")
    assert("partial_kmvagg".r.findAllIn(p).size == 2,
      s"both sketches must combine map-side:\n$p")
    assert(!p.contains("Window"), s"estimator must not window:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"one-row composes must broadcast, never shuffle-join:\n$p")
  }

  test("funnel: three stacked stage windows ride ONE user exchange") {
    val p = plan("q33_event_funnel")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"funnel stages must share the user_id exchange:\n$p")
    assert("Window \\[".r.findAllIn(p).size == 3,
      s"expected 3 chained window stages:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"funnel must not self-join the events table:\n$p")
  }

  test("audioStoreProbe: hash joins on sig buckets — no all-pairs, no window, partial aggs") {
    import graft.llm.Multimodal
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val hist = Multimodal.audioSignSigs(Multimodal.synthesizeAudioCorpus(
        docs.filter(col("doc_id") < 50), "doc_id"))
      .select(col("id").as("clip_id"), col("n_frames"), col("frame_idx"),
        col("sig"))
    val batch = Multimodal.audioSignSigs(Multimodal.synthesizeAudioCorpus(
      docs.filter(col("doc_id") >= 50).filter(col("doc_id") < 80), "doc_id"))
    val p = Multimodal.audioStoreProbe(batch, hist)
      .queryExecution.explainString(SimpleMode)
    // candidates come from a frame-0 signature EQUI-join; anything
    // nested-loop-shaped would be |batch|x|store| at scale
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"all-pairs shape:\n$p")
    assert(!p.contains("Window"), s"window appeared:\n$p")
    // per-pair and per-clip rollups must combine map-side
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"aggregation not partial:\n$p")
    // what shuffles is 8-byte signatures, never PCM payloads: the only
    // binary column dies inside the decode mapPartitions
    assert(!p.linesIterator.exists(l => l.contains("Exchange")
      && l.contains("payload")), s"payload bytes crossed a shuffle:\n$p")
  }

  test("driver smoke: SparkEntry.entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** Executed physical plans of the queries `action` runs on t22's frame. */
  private def t22ExecutedPlans(action: DataFrame => Unit): String = {
    val plans = new ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      action(SparkEntry.queries("t22_substring_dedup")(spark, dir))
      // the listener bus is async
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      plans.asScala.mkString("\n")
    } finally spark.listenerManager.unregister(l)
  }

  test("Bench.evaluate executes t22's gram explode and dup counts; count() prunes them") {
    // the per-doc dup-count aggregate: grouped by doc_id, counting rows
    val dupCount = """HashAggregate\(keys=\[doc_id#\d+L?\], functions=\[(partial_)?count\(1\)\]""".r
    val full = t22ExecutedPlans(Bench.evaluate)
    assert(full.contains("Generate explode"), s"gram explode not executed:\n$full")
    assert(dupCount.findFirstIn(full).nonEmpty, s"dup-count aggregate not executed:\n$full")
    // the same frame under count(): Catalyst drops the left-joined branch,
    // which is why the bench must not time count()
    val counted = t22ExecutedPlans(df => { df.count(); () })
    assert(counted.nonEmpty, "no plan captured for count()")
    assert(!counted.contains("Generate"), s"count() kept the explode:\n$counted")
    assert(dupCount.findFirstIn(counted).isEmpty, s"count() kept the dup counts:\n$counted")
  }
}
