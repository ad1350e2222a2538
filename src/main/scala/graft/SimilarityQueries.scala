package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.{CompressionSignal, Dedup, Multimodal, NumericQuality, Packing, Sampling, Similarity, Sketches, TextOps}
import graft.LlmShared.{t, staging, idOffset, docsWithNearDups, qualitySqlExpr}

/** Embedding similarity-search queries (s01–s17): brute-force /
  * LSH / IVF / PQ / IMI top-k, embedding near-dup, semantic dedup, kNN
  * graph, normalization and quantization, persisted-index lifecycle.
  * Split out of LlmQueries by family (r11) — pure move; the public surface
  * stays [[graft.LlmQueries.queries]] / [[graft.LlmQueries.oracleSql]]. */
private[graft] object SimilarityQueries {

  // ---------------------------------------------------- similarity search

  private def s01(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val s01Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings)
      |SELECT query_id, corpus_id, cos, rank FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |    round(list_cosine_similarity(q.embedding, c.embedding), 6) AS cos,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY round(list_cosine_similarity(q.embedding, c.embedding), 6) DESC,
      |               c.vec_id) AS rank
      |  FROM e c CROSS JOIN (SELECT * FROM e WHERE vec_id < 10) q
      |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** LSH top-k, SELF-VERIFYING: recall@5 vs the brute-force twin, gated at
    * the RecallSpec bound (0.6 with 4 tables). n_exact is k × |queries| —
    * reproducible relationally. */
  private def s02(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("corpus_id"))
    // uniform-random embeddings are the LSH worst case (no cluster
    // structure); recall tracks the candidate fraction L(1+probes)/2^bits,
    // so the dial is set to ~0.44 here to hold the 0.6 gate with margin
    // (measured 0.78 at sf0.01). Real embedding corpora cluster, buying
    // the same recall at a far smaller fraction.
    val approx = Similarity.lshTopK(emb, q, k = 5, dim = 64,
        bits = 7, probeBits = 6, tables = 8)
      .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
    exact.join(approx, Seq("query_id", "corpus_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.6).as("recall_ok"))
  }

  private val s02Sql =
    """SELECT 5 * COUNT(*) AS n_exact, TRUE AS recall_ok
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  /** embeddings ∪ perturbed copies (every 4th vector reappears under
    * id+100000 with +0.05 added to every coordinate — cos ≈ 0.92-0.95 to its
    * source, far above the ~0.51 max between natural pairs). */
  private def embWithNearDups(s: SparkSession, dir: String): DataFrame = {
    // capped at 500 vectors: s03 is the quadratic verification baseline
    // (identical at the sf0.01 correctness scale); s04 is the scale path
    val e = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    e.unionByName(e.filter(col("vec_id") % 4 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.05)).as("embedding")))
  }

  private val embWithNearDupsSql =
    """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
      |WHERE vec_id < 500
      |UNION ALL
      |SELECT vec_id + 100000,
      |       list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.05)
      |FROM embeddings WHERE vec_id % 4 = 0 AND vec_id < 500""".stripMargin

  private def s03(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairsExact(embWithNearDups(s, dir), threshold = 0.9)
      .orderBy(col("id_a"), col("id_b"))

  private val s03Sql =
    s"""WITH e AS ($embWithNearDupsSql)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  round(list_cosine_similarity(a.embedding, b.embedding), 6) AS cos
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE round(list_cosine_similarity(a.embedding, b.embedding), 6) >= 0.9
       |ORDER BY id_a, id_b""".stripMargin

  /** LSH-bucketed embedding near-dup pairs, SELF-VERIFYING vs the exact
    * quadratic twin (s03's logic), 4 hyperplane families, gated at 0.6. */
  private def s04(s: SparkSession, dir: String): DataFrame = {
    val e = embWithNearDups(s, dir).localCheckpoint()
    val exact = Similarity.nearDupPairsExact(e, threshold = 0.9)
      .select(col("id_a"), col("id_b"))
    val approx = Similarity.nearDupPairs(e, threshold = 0.9, dim = 64,
        bits = 6, tables = 4)
      .select(col("id_a"), col("id_b"), lit(1).as("hit"))
    exact.join(approx, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.6).as("recall_ok"))
  }

  private val s04Sql =
    s"""WITH e AS ($embWithNearDupsSql)
       |SELECT COUNT(*) AS n_exact, TRUE AS recall_ok
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE round(list_cosine_similarity(a.embedding, b.embedding), 6) >= 0.9""".stripMargin

  /** IVF top-k, SELF-VERIFYING: recall@5 vs brute force, gated at the
    * RecallSpec bound (0.5 at nprobe=3/nlist=8). */
  private def s05(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("corpus_id"))
    val approx = Similarity.ivfTopK(s, emb, q, k = 5, nlist = 8, nprobe = 3)
      .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
    exact.join(approx, Seq("query_id", "corpus_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.5).as("recall_ok"))
  }

  private val s05Sql =
    """SELECT 5 * COUNT(*) AS n_exact, TRUE AS recall_ok
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  /** Quantized IVF + exact re-rank (the 100 TB memory-bandwidth shape:
    * int8 inverted-list scan, full-precision re-scoring of the top
    * rerank·k survivors), SELF-VERIFYING like s02/s05: recall@5 vs the
    * brute-force twin, gated at the s05 bound (same probed lists; the
    * re-rank recovers quantization error inside them). */
  private def s07(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("corpus_id"))
    val approx = Similarity.ivfTopKQuantized(s, emb, q, k = 5, nlist = 8,
        nprobe = 3, rerank = 4)
      .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
    exact.join(approx, Seq("query_id", "corpus_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.5).as("recall_ok"))
  }

  private val s07Sql =
    """SELECT 5 * COUNT(*) AS n_exact, TRUE AS recall_ok
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  /** IMI (inverted multi-index) top-k: the two-level coarse quantizer —
    * 8×8 half-space codebooks = 64 cells ranked from 16 half-dot products
    * per row, the assignment shape that keeps nlist ∝ corpus affordable at
    * 10⁵+ cells. SELF-VERIFYING like s05: recall@5 vs the brute-force
    * twin, gated at the family bound (measured 0.78 at nprobe=16). */
  private def s12(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("corpus_id"))
    val approx = Similarity.imiTopK(s, emb, q, k = 5, kA = 8, kB = 8,
        nprobe = 16)
      .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
    exact.join(approx, Seq("query_id", "corpus_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.5).as("recall_ok"))
  }

  private val s12Sql =
    """SELECT 5 * COUNT(*) AS n_exact, TRUE AS recall_ok
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  /** SemDeDup-style semantic dedup (k-means cells → exact within-cell
    * pairs), SELF-VERIFYING like s04: recall vs the exact quadratic twin
    * over the same perturbed corpus, gated at 0.6. Precision is 1 by
    * construction (every emitted pair is exact-cosine-checked), so the
    * gate only needs the recall side. */
  private def s08(s: SparkSession, dir: String): DataFrame = {
    val e = embWithNearDups(s, dir).localCheckpoint()
    val exact = Similarity.nearDupPairsExact(e, threshold = 0.9)
      .select(col("id_a"), col("id_b"))
    val approx = Similarity.semanticDupPairs(e, threshold = 0.9, nlist = 8)
      .select(col("id_a"), col("id_b"), lit(1).as("hit"))
    exact.join(approx, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.6).as("recall_ok"))
  }

  private val s08Sql =
    s"""WITH e AS ($embWithNearDupsSql)
       |SELECT COUNT(*) AS n_exact, TRUE AS recall_ok
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE round(list_cosine_similarity(a.embedding, b.embedding), 6) >= 0.9""".stripMargin

  /** Approximate k-NN graph — [[Similarity.knnGraph]], SELF-VERIFYING:
    * mean recall of the per-node exact top-5 edge set (brute-force twin,
    * labeled oracle-scale — the graph itself never leaves cell-local
    * work + bounded heaps) gated at 0.6. Dials from the KnnDial sweep
    * (retired, `git show 82306df:src/main/scala/graft/examples/KnnDial.scala`):
    * (nlist=16, nprobe=4) measures 0.948/0.944 recall at sf0.01/sf0.1 —
    * recall tracks the cell geometry, not the corpus size. nlist DERIVES
    * from the corpus (~125 rows per cell, the capSample move): a fixed
    * nlist would let cells grow linearly with the corpus and the
    * within-cell pair blocks quadratically — the sf1 sweep measured
    * fixed-16 at 10× data costing ~10× more than the scaled dial. */
  private def s10(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").localCheckpoint()
    val n = emb.count()
    val nlist = math.max(16, (n / 125L).toInt)
    val approx = Similarity.knnGraph(emb, k = 5, nlist = nlist, nprobe = 4)
      .select(col("src"), col("dst"), lit(1).as("hit"))
    // the twin ranks every corpus vector but only for a FIXED-COUNT
    // (~2000) deterministic sample of SOURCES — the gate is a mean over
    // nodes, so a bounded sample pins it while keeping the twin LINEAR in
    // the corpus. The r10 form sampled a fixed 10% FRACTION, which is
    // still 0.1·n² — quadratic — and the sf10 rehearsal paid it: the twin
    // dominated s10's 324 s (the graph itself is cell-bounded). The
    // modulus derives from the corpus count; the oracle derives the same
    // scalar, so the sampled-source set is reproducible in DuckDB.
    val srcMod = math.max(10L, n / 2000L)
    val a2 = emb.filter(col("vec_id") % srcMod === 0)
      .select(col("vec_id").as("src"), col("embedding").as("v_a"))
    val b2 = emb.select(col("vec_id").as("dst"), col("embedding").as("v_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    val exact = a2.crossJoin(b2).filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(Similarity.cosine(col("v_a"), col("v_b")), 6).as("cos"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("src"), col("dst"))
    exact.join(approx, Seq("src", "dst"), "left")
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.6).as("recall_ok"))
  }

  private val s10Sql =
    """WITH m AS (SELECT GREATEST(10, COUNT(*) // 2000) AS srcmod
      |           FROM embeddings)
      |SELECT 5 * COUNT(*) AS n_exact, TRUE AS recall_ok
      |FROM embeddings, m WHERE vec_id % srcmod = 0""".stripMargin

  /** IVF-PQ + ADC scan + exact re-rank (the index shape that fits a
    * 100 TB corpus in executor memory: m-byte PQ codes per vector, per-
    * query lookup tables, no dot products in the candidate scan),
    * SELF-VERIFYING like s05/s07: recall@5 vs the brute-force twin, gated
    * at the RecallSpec bound (0.5 at the same dials; rerank=8 because the
    * 4-bit ADC ordering is coarser than the int8 scan's). */
  private def s09(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("corpus_id"))
    // rerank = 32: rerank·k is the candidate budget of the exact re-rank
    // pass, and it must cover the ADC TIE MULTIPLICITY — on the amplified
    // rehearsal corpora every vector has `copies` near-duplicates whose PQ
    // codes collide (the 0.001-shift is far below the quantization step),
    // so the top-rerank·k ADC candidates are a coin-flip subset of the tie
    // cluster until the budget covers it (sf10, 100 copies: rerank=8 →
    // recall 0.12, rerank=32 → 1.00; finer codebooks DON'T fix it —
    // cbs=64 at rerank=8 is still 0.48). 160 broadcast exact cosines per
    // query is trivially cheap at any corpus size; the corpus-side scan
    // stays untouched.
    val approx = Similarity.ivfTopKPQ(s, emb, q, k = 5, dim = 64, nlist = 8,
        nprobe = 3, m = 8, codebookSize = 16, rerank = 32)
      .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
    exact.join(approx, Seq("query_id", "corpus_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.5).as("recall_ok"))
  }

  private val s09Sql =
    """SELECT 5 * COUNT(*) AS n_exact, TRUE AS recall_ok
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  /** Metadata-FILTERED top-k ([[Similarity.filteredTopK]]): each query's
    * neighbors come only from corpus vectors sharing its LABEL — the
    * same-language / same-tenant retrieval shape, candidates via a hash
    * join on the label (each query scores its bucket, never the
    * corpus), exact by construction. Value-matched: DuckDB reproduces
    * the label join, rounded cosines, and (cos desc, id) ranks. */
  private def s14(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.filteredTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val s14Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding,
      |    label FROM embeddings)
      |SELECT query_id, corpus_id, cos, rank FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |    round(list_cosine_similarity(q.embedding, c.embedding), 6) AS cos,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY round(list_cosine_similarity(q.embedding, c.embedding),
      |                     6) DESC, c.vec_id) AS rank
      |  FROM e c JOIN (SELECT * FROM e WHERE vec_id < 10) q
      |    ON c.label = q.label
      |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Residual IVF-PQ ([[Similarity.ivfTopKPQResidual]], the FAISS IVFADC
    * shape) — SELF-VERIFYING like s09: recall@5 vs the brute-force twin,
    * gated at 0.5 with s09's exact dials, so the two rows compare the
    * plain and residual quantizers like-for-like. RecallSpec additionally
    * pins residual recall ≥ plain-PQ recall on this corpus. */
  private def s13(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("corpus_id"))
    val approx = Similarity.ivfTopKPQResidual(s, emb, q, k = 5, dim = 64,
        nlist = 8, nprobe = 3, m = 8, codebookSize = 16, rerank = 32)
      .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
    exact.join(approx, Seq("query_id", "corpus_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.5).as("recall_ok"))
  }

  private val s13Sql =
    """SELECT 5 * COUNT(*) AS n_exact, TRUE AS recall_ok
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  private val storeInvocation = new java.util.concurrent.atomic.AtomicLong()

  /** Persisted-index IVFADC search ([[graft.llm.IndexStore]] — the FAISS
    * train-once discipline): fit + persist the quantizer as a durable
    * artifact, append the corpus as encoded inverted-list segment 0 (m-byte
    * PQ codes, never raw vectors), then search THROUGH THE STORE — the
    * search path runs ZERO fit jobs; the quantizer loads back as kilobytes
    * of plan literals. SELF-VERIFYING like s13: recall@5 vs the brute-force
    * twin at the same dials, gated at 0.5; IndexStoreSpec additionally pins
    * the store path row-identical to the fit-per-query path. `store_ok`
    * hash-checks the artifact lifecycle: fresh append committed, replayed
    * append a no-op. */
  private def s15(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.IndexStore
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val root = staging("ixstore", dir) + "/" + storeInvocation.incrementAndGet()
    IndexStore.train(s, root, emb, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, seed = 42L)
    val indexed = IndexStore.appendCodes(s, root, 0L, emb)
    val replayNoop = !IndexStore.appendCodes(s, root, 0L, emb)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("corpus_id"))
    val approx = IndexStore.searchTopK(s, root, emb, q, k = 5, nprobe = 3,
        rerank = 32)
      .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
    exact.join(approx, Seq("query_id", "corpus_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.5).as("recall_ok"),
        lit(indexed && replayNoop).as("store_ok"))
  }

  private val s15Sql =
    """SELECT 5 * COUNT(*) AS n_exact, TRUE AS recall_ok, TRUE AS store_ok
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  /** INCREMENTAL indexing against a deliberately STALE quantizer — the
    * production lifecycle the persisted artifact exists for: train once on
    * the corpus snapshot available at train time (the even-id HALF), then
    * the late half arrives as a second batch ENCODED WITH THE SAME
    * ARTIFACT — no refit, no history re-encode, append cost ∝ batch — and
    * search spans both segments. Recall stays gated at s13's 0.5 bound
    * even though half the corpus was never seen by the fit: IVF cells
    * degrade gracefully under drift (recall, not correctness — the exact
    * re-rank tail keeps precision exact), which is why train-once is the
    * standard production trade. `store_ok` hash-checks both segment
    * commits. */
  private def s16(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.IndexStore
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val early = emb.filter(col("vec_id") % 2 === 0)
    val late = emb.filter(col("vec_id") % 2 === 1)
    val root = staging("ixstore", dir) + "/" + storeInvocation.incrementAndGet()
    IndexStore.train(s, root, early, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, seed = 42L)
    val b0 = IndexStore.appendCodes(s, root, 0L, early)
    val b1 = IndexStore.appendCodes(s, root, 1L, late)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("corpus_id"))
    val approx = IndexStore.searchTopK(s, root, emb, q, k = 5, nprobe = 3,
        rerank = 32)
      .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
    exact.join(approx, Seq("query_id", "corpus_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.5).as("recall_ok"),
        lit(b0 && b1).as("store_ok"))
  }

  private val s16Sql =
    """SELECT 5 * COUNT(*) AS n_exact, TRUE AS recall_ok, TRUE AS store_ok
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  /** Metadata-FILTERED search through the persisted index — the
    * same-language / same-tenant retrieval shape (s14) served by the
    * store instead of an exact label-bucket join: the label rides IN the
    * code segments (attribute-carrying index, `appendCodes(carryCols)`),
    * the scan PRE-filters on it — rejected candidates never consume the
    * rerank budget, the corpus is never joined before the rerank tail —
    * and recall@5 is gated against [[Similarity.filteredTopK]]'s exact
    * twin at 0.5. */
  private def s17(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.IndexStore
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val root = staging("ixstore", dir) + "/" + storeInvocation.incrementAndGet()
    IndexStore.train(s, root, emb, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, seed = 42L)
    IndexStore.appendCodes(s, root, 0L, emb, carryCols = Seq("label"))
    val exact = Similarity.filteredTopK(emb, q, k = 5)
      .select(col("query_id"), col("corpus_id"))
    val approx = IndexStore.searchTopK(s, root, emb, q, k = 5, nprobe = 3,
        rerank = 32, matchCols = Seq("label"))
      .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
    exact.join(approx, Seq("query_id", "corpus_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.5).as("recall_ok"))
  }

  private val s17Sql =
    """SELECT 5 * COUNT(*) AS n_exact, TRUE AS recall_ok
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  /** The CLOSED staleness loop — detect, retrain, rotate, recover
    * ([[graft.llm.IndexStore.rotate]]): epoch-1 store trained on and
    * indexing the even-id half; the corpus then DRIFTS (the odd half
    * arrives shifted +0.5 per dimension — a new embedding region, dt07's
    * planted shape); the staleness monitor fires (chi² of the drifted
    * batch's cell assignments vs the store, calibrated against the
    * unshifted same-distribution split — dt07's measured factor-20 dial);
    * the RESPONSE is `rotate`: fit a fresh quantizer on the drifted
    * corpus at a NEW root, re-encode, and cut over with one atomic
    * pointer publish — searches concurrently in flight resolve a
    * complete store on either side of the flip (IndexStoreSpec pins the
    * zero-downtime claim with a search thread racing the rotate), and
    * the old root stays for rollback. Post-rotate recall over the
    * drifted corpus is gated at the family bound (0.5) — the quantizer
    * that had never seen the shifted region is retired, closing the loop
    * dt07 only opens. rotate_ok hash-checks the cutover mechanics:
    * pointer flipped to the new root, old store still committed
    * (rollback intact). */
  private def s18(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.IndexStore
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val even = emb.filter(col("vec_id") % 2 === 0)
    val odd = emb.filter(col("vec_id") % 2 === 1)
    val shifted = odd.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
    val drifted = even.unionByName(shifted)
    val alias = staging("ixrotate", dir) + "/" + storeInvocation.incrementAndGet()
    // epoch 1: the store the world searches today
    val root1 = IndexStore.rotate(s, alias, even, dim = 64, nlist = 8,
      m = 8, codebookSize = 16, seed = 42L)
    // the monitor (dt07's machinery): drifted batch vs store cells,
    // calibrated against the unshifted same-distribution split
    val rq = IndexStore.loadQuantizer(s, root1)
    val storeCells = IndexStore.readCodes(s, root1).select(col("centroid_id"))
    def stat(batch: DataFrame, as: String): DataFrame =
      graft.exec.DataTests.driftChi2(storeCells,
          graft.llm.Similarity.encodeResidual(batch, rq)
            .select(col("centroid_id")), "centroid_id")
        .agg(max(col("chi2_stat")).as(as))
    val same = stat(odd, "__chi2_same")
    val shift = stat(shifted, "__chi2_shift")
    // the response: retrain on the drifted corpus, atomic cutover
    val root2 = IndexStore.rotate(s, alias, drifted, dim = 64, nlist = 8,
      m = 8, codebookSize = 16, seed = 43L)
    val rotateOk = IndexStore.currentRoot(s, alias).contains(root2) &&
      IndexStore.quantizerCommitted(s, root1) && root1 != root2
    val q = drifted.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(drifted, q, k = 5)
      .select(col("query_id"), col("corpus_id"))
    val approx = IndexStore.searchCurrent(s, alias, drifted, q, k = 5,
        nprobe = 3, rerank = 32)
      .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
    exact.join(approx, Seq("query_id", "corpus_id"), "left")
      .crossJoin(broadcast(same)).crossJoin(broadcast(shift))
      .agg(count(lit(1)).as("n_exact"),
        (max(col("__chi2_shift")) > 100.0 &&
          max(col("__chi2_shift")) >
            greatest(max(col("__chi2_same")), lit(7.0)) * 20)
          .as("drift_detected"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.5).as("recall_ok"),
        lit(rotateOk).as("rotate_ok"))
  }

  private val s18Sql =
    """SELECT 5 * COUNT(*) AS n_exact, TRUE AS drift_detected,
      |  TRUE AS recall_ok, TRUE AS rotate_ok
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  /** Persisted IVF-FLAT store (FAISS IndexIVFFlat on Spark —
    * [[graft.llm.IndexStore.trainIvf]]/appendFlat/searchTopKFlat): the
    * coarse centroids are the ENTIRE fit product, persisted once; the
    * inverted-list segments carry raw vectors, so the probed-cell scan
    * scores exact cosine with no re-rank tail. This retires s05's
    * per-query k-means fit: the store search runs ZERO fit jobs
    * (JobCountSpec-pinned) and IndexStoreSpec pins it row-identical to
    * the fit-per-query [[Similarity.ivfTopK]] at the same dials and
    * seed. Gated like s05: recall@5 vs the brute-force twin ≥ 0.5;
    * store_ok checks the fresh-commit + replay-no-op lifecycle. */
  private def s19(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.IndexStore
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val root = staging("ixflat", dir) + "/" + storeInvocation.incrementAndGet()
    IndexStore.trainIvf(s, root, emb, dim = 64, nlist = 8, seed = 42L)
    val indexed = IndexStore.appendFlat(s, root, 0L, emb)
    val replayNoop = !IndexStore.appendFlat(s, root, 0L, emb)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("corpus_id"))
    val approx = IndexStore.searchTopKFlat(s, root, q, k = 5, nprobe = 3)
      .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
    // store-content anchors VALUE-matched by DuckDB (the dt07/m29
    // pattern): the committed segments must hold exactly the corpus rows
    // — count and id-sum read back from the store, not asserted
    val stored = IndexStore.readCodes(s, root)
      .agg(count(lit(1)).as("n_indexed"),
        sum(col("corpus_id")).as("sum_ids"))
    exact.join(approx, Seq("query_id", "corpus_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.5).as("recall_ok"),
        lit(indexed && replayNoop).as("store_ok"))
      .crossJoin(broadcast(stored))
  }

  private val s19Sql =
    """SELECT 5 * COUNT(*) AS n_exact, TRUE AS recall_ok, TRUE AS store_ok,
      |  (SELECT COUNT(*) FROM embeddings) AS n_indexed,
      |  CAST((SELECT SUM(vec_id) FROM embeddings) AS BIGINT) AS sum_ids
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  /** Persisted IVF-INT8 store (FAISS IndexIVFScalarQuantizer —
    * [[graft.llm.IndexStore.appendInt8]]/searchTopKInt8): same persisted
    * centroids as s19, but segments carry 1-byte-per-dimension codes +
    * a per-vector scale — 8× less scan traffic than float64 — and the
    * rerank·k ADC survivors re-score full-precision against the raw
    * corpus. Retires s07's per-query fit; zero fit jobs on the search
    * (JobCountSpec-pinned), row-identical to the fit-per-query
    * [[Similarity.ivfTopKQuantized]] (IndexStoreSpec). Gated at s07's
    * 0.5 recall bound. */
  private def s20(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.IndexStore
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val root = staging("ixint8", dir) + "/" + storeInvocation.incrementAndGet()
    IndexStore.trainIvf(s, root, emb, dim = 64, nlist = 8, seed = 42L)
    val indexed = IndexStore.appendInt8(s, root, 0L, emb)
    val replayNoop = !IndexStore.appendInt8(s, root, 0L, emb)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("corpus_id"))
    val approx = IndexStore.searchTopKInt8(s, root, emb, q, k = 5,
        nprobe = 3, rerank = 4)
      .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
    // store-content anchors VALUE-matched by DuckDB (the dt07/m29
    // pattern): the committed segments must hold exactly the corpus rows
    // — count and id-sum read back from the store, not asserted
    val stored = IndexStore.readCodes(s, root)
      .agg(count(lit(1)).as("n_indexed"),
        sum(col("corpus_id")).as("sum_ids"))
    exact.join(approx, Seq("query_id", "corpus_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.5).as("recall_ok"),
        lit(indexed && replayNoop).as("store_ok"))
      .crossJoin(broadcast(stored))
  }

  private val s20Sql =
    """SELECT 5 * COUNT(*) AS n_exact, TRUE AS recall_ok, TRUE AS store_ok,
      |  (SELECT COUNT(*) FROM embeddings) AS n_indexed,
      |  CAST((SELECT SUM(vec_id) FROM embeddings) AS BIGINT) AS sum_ids
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  /** Persisted IMI store ([[graft.llm.IndexStore.trainImi]]/appendImi/
    * searchTopKImi): the two half-space codebooks persist once (the
    * coarse layer that scales to 10⁵ cells — kA·kB cells ranked from
    * kA+kB half-dots per probe), segments carry per-cell vectors.
    * Retires s12's per-query fit; zero fit jobs on the search
    * (JobCountSpec-pinned), row-identical to the fit-per-query
    * [[Similarity.imiTopK]] (IndexStoreSpec). Gated at s12's 0.5 recall
    * bound with its dials (8×8 cells, nprobe=16). */
  private def s21(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.IndexStore
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val root = staging("iximi", dir) + "/" + storeInvocation.incrementAndGet()
    IndexStore.trainImi(s, root, emb, dim = 64, kA = 8, kB = 8, seed = 42L)
    val indexed = IndexStore.appendImi(s, root, 0L, emb)
    val replayNoop = !IndexStore.appendImi(s, root, 0L, emb)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("corpus_id"))
    val approx = IndexStore.searchTopKImi(s, root, q, k = 5, nprobe = 16)
      .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
    // store-content anchors VALUE-matched by DuckDB (the dt07/m29
    // pattern): the committed segments must hold exactly the corpus rows
    // — count and id-sum read back from the store, not asserted
    val stored = IndexStore.readCodes(s, root)
      .agg(count(lit(1)).as("n_indexed"),
        sum(col("corpus_id")).as("sum_ids"))
    exact.join(approx, Seq("query_id", "corpus_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.5).as("recall_ok"),
        lit(indexed && replayNoop).as("store_ok"))
      .crossJoin(broadcast(stored))
  }

  private val s21Sql =
    """SELECT 5 * COUNT(*) AS n_exact, TRUE AS recall_ok, TRUE AS store_ok,
      |  (SELECT COUNT(*) FROM embeddings) AS n_indexed,
      |  CAST((SELECT SUM(vec_id) FROM embeddings) AS BIGINT) AS sum_ids
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  /** JL random-projection prefilter + exact re-rank
    * ([[Similarity.jlTopK]]), SELF-VERIFYING like s05/s07: recall@5 vs
    * the brute-force twin, gated at 0.6. 64 → 32 dims halves the scan
    * arithmetic/bandwidth; rerank=16 re-scores the top 80 projected
    * candidates per query at full width. JlDialProbe (retired,
    * `git show 82306df:src/main/scala/graft/examples/JlDialProbe.scala`) on these UNIFORM
    * embeddings (the JL worst case — no cluster margin between true
    * neighbors and the pack) measures 0.76 / 0.88 at sf0.001 / sf0.01;
    * real embedding corpora cluster, buying more recall at smaller
    * outDim. */
  private def s11(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("corpus_id"))
    val approx = Similarity.jlTopK(emb, q, k = 5, dim = 64, outDim = 32,
        rerank = 16)
      .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
    exact.join(approx, Seq("query_id", "corpus_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.6).as("recall_ok"))
  }

  private val s11Sql =
    """SELECT 5 * COUNT(*) AS n_exact, TRUE AS recall_ok
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  /** L2 normalization + int8 quantization over embeddings (oracle-checked:
    * both are pure list arithmetic). */
  private def s06(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"),
        Similarity.l2Normalize(col("v")).as("nv"),
        Similarity.quantizeInt8(col("v")).as("q"))
      .select(col("vec_id"),
        round(Similarity.l2Norm(col("v")), 6).as("norm"),
        round(element_at(col("nv"), 1), 6).as("n_first"),
        round(Similarity.l2Norm(col("nv")), 6).as("unit_norm"),
        round(col("q").getField("scale"), 9).as("scale"),
        element_at(col("q").getField("codes"), 1).as("code_first"))
      .orderBy(col("vec_id"))

  private val s06Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings WHERE vec_id < 200),
      |n AS (SELECT vec_id, v,
      |        sqrt(list_sum(list_transform(v, x -> x * x))) AS norm,
      |        list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      |      FROM e)
      |SELECT vec_id, round(norm, 6) AS norm,
      |  round(v[1] / norm, 6) AS n_first,
      |  round(sqrt(list_sum(list_transform(v, x -> (x/norm)*(x/norm)))), 6) AS unit_norm,
      |  round(scale, 9) AS scale,
      |  CAST(round(v[1] / scale, 0) AS INT) AS code_first
      |FROM n ORDER BY vec_id""".stripMargin

  /** Persisted-store MERGE — the FAISS `merge_from` discipline
    * ([[graft.llm.IndexStore.mergeStores]]): train ONCE on the corpus
    * sample, ship the kilobyte artifact to two shard builders (even /
    * odd ids — the per-region / per-day build), each indexes its slice
    * against the SHARED quantizer, and merge unifies the shards WITHOUT
    * touching a vector — the destination commits the same artifact and
    * each source's code segments copy over (m bytes + id per vector;
    * zero fit jobs, zero encode jobs, zero corpus reads — at 100 TB the
    * merge moves the index, never the data). Search over the merged
    * store is ROW-IDENTICAL to a single-store build of the full corpus
    * (IndexStoreSpec — same artifact, same codes, same math); here the
    * recall gate re-proves it against the brute-force twin, and
    * merge_ok pins the lifecycle: both sources committed by the first
    * merge, the replayed merge a per-source no-op (crash-rerun safe),
    * divergent-artifact refusal spec-pinned. */
  private def s22(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.IndexStore
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val even = emb.filter(col("vec_id") % 2 === 0)
    val odd = emb.filter(col("vec_id") % 2 === 1)
    val base = staging("ixmerge", dir) + "/" + storeInvocation.incrementAndGet()
    val (rootA, rootB, dst) = (s"$base/a", s"$base/b", s"$base/merged")
    val rq = IndexStore.train(s, rootA, emb, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, seed = 42L)
    IndexStore.saveQuantizer(s, rootB, rq) // ship the artifact, not a refit
    IndexStore.appendCodes(s, rootA, 0L, even)
    IndexStore.appendCodes(s, rootB, 0L, odd)
    val m1 = IndexStore.mergeStores(s, dst, Seq(rootA, rootB))
    val m2 = IndexStore.mergeStores(s, dst, Seq(rootA, rootB)) // crash-rerun
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("corpus_id"))
    val approx = IndexStore.searchTopK(s, dst, emb, q, k = 5, nprobe = 3,
        rerank = 32)
      .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
    exact.join(approx, Seq("query_id", "corpus_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.5).as("recall_ok"),
        lit(m1.forall(identity) && m2.forall(!_)).as("merge_ok"))
  }

  private val s22Sql =
    """SELECT 5 * COUNT(*) AS n_exact, TRUE AS recall_ok, TRUE AS merge_ok
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  /** TIME-TRAVEL index search ([[graft.llm.IndexStore.searchTopK]]'s
    * `asOfBatch` — [[graft.llm.DedupStore.readAsOf]] under the code
    * segments): re-run yesterday's eval against yesterday's index,
    * EXACTLY, after later ingests landed — the retrieval-reproducibility
    * discipline (an eval score means nothing if the index it ran against
    * cannot be reconstructed). The store ingests two epochs; the as-of-0
    * search must be ROW-IDENTICAL to a twin store holding only epoch 0
    * under the same artifact (asof_exact — segments are immutable dated
    * facts, so the slice IS that store), and the as-of-head search must
    * equal the live read (head_ok). Compaction interplay inherits d30's
    * honest refusal (spec territory). */
  private def s23(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.IndexStore
    val emb = t(s, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val even = emb.filter(col("vec_id") % 2 === 0)
    val odd = emb.filter(col("vec_id") % 2 === 1)
    val base = staging("ixasof", dir) + "/" + storeInvocation.incrementAndGet()
    val (root, twin) = (s"$base/live", s"$base/twin")
    val rq = IndexStore.train(s, root, emb, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, seed = 42L)
    // the epoch-0 batch lands in BOTH stores (live + its as-of twin, same
    // artifact by construction): encode it ONCE and append the slab twice
    // (r19, the appendEncoded encode-once seam) — the twin's segment was
    // always the same rows under the same codebooks; now it is literally
    // the same encoded frame
    val evenCodes = graft.llm.Similarity.encodeResidual(even, rq)
      .localCheckpoint()
    IndexStore.appendEncoded(s, root, 0L, evenCodes)
    IndexStore.appendCodes(s, root, 1L, odd)
    IndexStore.saveQuantizer(s, twin, rq) // epoch-0 store, same artifact
    IndexStore.appendEncoded(s, twin, 0L, evenCodes)
    def keyed(df: DataFrame): DataFrame =
      df.select(col("query_id"), col("corpus_id"), col("rank"))
    val asOf0 = IndexStore.searchTopK(s, root, emb, q, k = 5, nprobe = 3,
      rerank = 32, asOfBatch = 0L).localCheckpoint()
    val twinSearch = IndexStore.searchTopK(s, twin, emb, q, k = 5,
      nprobe = 3, rerank = 32)
    val head = IndexStore.searchTopK(s, root, emb, q, k = 5, nprobe = 3,
      rerank = 32, asOfBatch = 1L)
    val live = IndexStore.searchTopK(s, root, emb, q, k = 5, nprobe = 3,
      rerank = 32)
    val dAsof = keyed(asOf0).withColumn("__a", lit(1))
      .join(keyed(twinSearch).withColumn("__b", lit(1)),
        Seq("query_id", "corpus_id", "rank"), "full_outer")
      .agg(sum(when(col("__a").isNull || col("__b").isNull, 1L)
        .otherwise(0L)).as("__m1"))
    val dHead = keyed(head).withColumn("__a", lit(1))
      .join(keyed(live).withColumn("__b", lit(1)),
        Seq("query_id", "corpus_id", "rank"), "full_outer")
      .agg(sum(when(col("__a").isNull || col("__b").isNull, 1L)
        .otherwise(0L)).as("__m2"))
    asOf0.agg(count(lit(1)).as("n_results_asof"))
      .crossJoin(broadcast(dAsof)).crossJoin(broadcast(dHead))
      .select(col("n_results_asof"),
        (coalesce(col("__m1"), lit(0L)) === 0L).as("asof_exact"),
        (coalesce(col("__m2"), lit(0L)) === 0L).as("head_ok"))
  }

  private val s23Sql =
    """SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_results_asof,
      |  TRUE AS asof_exact, TRUE AS head_ok
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  // ---------------------------------------------------------------- export

  private[graft] val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s01_cosine_topk_brute" -> (s01 _),
    "s02_cosine_topk_lsh" -> (s02 _),
    "s03_embed_neardup_exact" -> (s03 _),
    "s04_embed_neardup_lsh" -> (s04 _),
    "s05_cosine_topk_ivf" -> (s05 _),
    "s06_normalize_quantize" -> (s06 _),
    "s07_cosine_topk_ivf_int8" -> (s07 _),
    "s08_semantic_dedup" -> (s08 _),
    "s09_cosine_topk_ivf_pq" -> (s09 _),
    "s10_knn_graph" -> (s10 _),
    "s11_cosine_topk_jl" -> (s11 _),
    "s12_cosine_topk_imi" -> (s12 _),
    "s13_cosine_topk_ivfpq_res" -> (s13 _),
    "s14_cosine_topk_filtered" -> (s14 _),
    "s15_cosine_topk_ivfpq_store" -> (s15 _),
    "s16_cosine_topk_ivfpq_incr" -> (s16 _),
    "s17_cosine_topk_filtered_store" -> (s17 _),
    "s18_cosine_topk_rotate" -> (s18 _),
    "s19_cosine_topk_ivfflat_store" -> (s19 _),
    "s20_cosine_topk_int8_store" -> (s20 _),
    "s21_cosine_topk_imi_store" -> (s21 _),
    "s22_cosine_topk_merged_store" -> (s22 _),
    "s23_cosine_topk_asof" -> (s23 _))

  private[graft] val oracleSql: Map[String, String] = Map(
    "s01_cosine_topk_brute" -> s01Sql,
    "s02_cosine_topk_lsh" -> s02Sql,
    "s03_embed_neardup_exact" -> s03Sql,
    "s04_embed_neardup_lsh" -> s04Sql,
    "s05_cosine_topk_ivf" -> s05Sql,
    "s06_normalize_quantize" -> s06Sql,
    "s07_cosine_topk_ivf_int8" -> s07Sql,
    "s08_semantic_dedup" -> s08Sql,
    "s09_cosine_topk_ivf_pq" -> s09Sql,
    "s10_knn_graph" -> s10Sql,
    "s11_cosine_topk_jl" -> s11Sql,
    "s12_cosine_topk_imi" -> s12Sql,
    "s13_cosine_topk_ivfpq_res" -> s13Sql,
    "s14_cosine_topk_filtered" -> s14Sql,
    "s15_cosine_topk_ivfpq_store" -> s15Sql,
    "s16_cosine_topk_ivfpq_incr" -> s16Sql,
    "s17_cosine_topk_filtered_store" -> s17Sql,
    "s18_cosine_topk_rotate" -> s18Sql,
    "s19_cosine_topk_ivfflat_store" -> s19Sql,
    "s20_cosine_topk_int8_store" -> s20Sql,
    "s21_cosine_topk_imi_store" -> s21Sql,
    "s22_cosine_topk_merged_store" -> s22Sql,
    "s23_cosine_topk_asof" -> s23Sql)
}
