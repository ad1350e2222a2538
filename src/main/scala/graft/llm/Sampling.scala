package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling / splitting for training-data
  * pipelines. Both operators key on `md5(salt ‖ key)` — a pure per-row
  * projection (no shuffle, no RNG state, codegen'd), so:
  *
  *  - assignment is REPRODUCIBLE across runs, engines, and cluster sizes
  *    (the same row always lands in the same split — rerunning a 100 TB
  *    pipeline never migrates examples between train and test);
  *  - keying on CONTENT (the text itself) sends byte-identical duplicates
  *    to the same split, closing the classic train/test leakage hole where
  *    `rand()`-splitting puts copies of one document on both sides;
  *  - the hex-prefix comparison is expressible in ANY engine with md5 —
  *    the DuckDB oracle runs the identical expression (d06).
  */
object Sampling {

  /** First `n` hex chars of `md5(salt ‖ key)` — the ONE keying expression
    * all hash-keyed operators share (split, sample, stratified sample,
    * [[Packing.shardKey]]), so they can never silently diverge. */
  private[llm] def hexPrefix(key: Column, salt: String, n: Int): Column =
    substring(md5(concat(lit(salt), key.cast("string"))), 1, n)

  /** Deterministic train/valid/test assignment from cumulative 256-bucket
    * thresholds, e.g. `Seq("train" -> 204, "valid" -> 230, "test" -> 256)`
    * ≈ 80/10/10. Thresholds are bucket counts (not percents) so the split
    * is exact over the hash space. */
  def hashSplit(df: DataFrame, key: Column, salt: String = "",
      thresholds: Seq[(String, Int)] =
        Seq("train" -> 204, "valid" -> 230, "test" -> 256),
      splitCol: String = "split"): DataFrame = {
    require(thresholds.nonEmpty && thresholds.last._2 == 256,
      "thresholds must be cumulative bucket counts ending at 256")
    // strictly increasing in (0,256]: a mis-ordered or duplicate cumulative
    // count would silently produce an EMPTY split (the when-chain matches
    // the larger bound first), and an intermediate 256 would format as
    // 3-hex '100', which compares lexicographically below most buckets
    require(thresholds.map(_._2).sliding(2).forall(w => w.size < 2 || w(0) < w(1))
        && thresholds.head._2 > 0,
      s"cumulative thresholds must be strictly increasing in (0,256]: " +
        thresholds.map(_._2).mkString(","))
    val b = hexPrefix(key, salt, 2)
    // upper-exclusive hex bound per split: bucket < f"%02x"(cum)
    val assigned = thresholds.init.foldRight(lit(thresholds.last._1)) {
      case ((name, cum), rest) => when(b < lit(f"$cum%02x"), name).otherwise(rest)
    }
    df.withColumn(splitCol, assigned)
  }

  /** LEAKAGE-SAFE train/valid/test split: every member of a (near-)dup
    * CLUSTER lands in the same split, so near-duplicates of a training
    * document can never contaminate the held-out sets — the standard
    * eval-hygiene control a plain per-document [[hashSplit]] cannot give
    * (a content hash splits near-identical docs independently).
    *
    * The split decision hashes the cluster's deterministic REPRESENTATIVE
    * (min `id` over the cluster) through the same salted-md5 bucket rule
    * as [[hashSplit]] — engine-free, parallelism-free, reproducible. Rows
    * with a NULL `cluster` are singletons and represent themselves, so the
    * input composes directly with a connected-components labeling that
    * only covers paired docs. Cluster labels may come from ANY domain
    * (CC min-ids, dense k-means ids, LSH band ids): the grouping key is a
    * (isSingleton, value) pair, so a label that numerically equals an
    * unrelated singleton's doc id can never merge the two groups. Cost
    * shape: one map-side-combined aggregate to |clusters| rows plus one
    * join back on the cluster key — the rep table is cluster-sized and
    * AQE broadcasts it when small; no window, no driver collect.
    *
    * `id` must be TOTALLY non-null — a NULL id raises at execution on
    * EVERY row, including clustered rows (which would otherwise still
    * join via their cluster key): the representative is `min(id)` over
    * the cluster, and a null contributing nothing to the min means the
    * split assignment silently depends on which rows happen to carry
    * ids — an irreproducible split is worse than a loud failure
    * (deliberate; ADVICE r18 asked for the contract to be explicit). */
  def clusterAwareSplit(df: DataFrame, id: Column, cluster: Column,
      salt: String = "",
      thresholds: Seq[(String, Int)] =
        Seq("train" -> 204, "valid" -> 230, "test" -> 256),
      splitCol: String = "split"): DataFrame = {
    val reserved = Seq("__cs_s", "__cs_c", "__cs_rep")
    require(!df.columns.exists(reserved.contains),
      s"clusterAwareSplit uses ${reserved.mkString(", ")} internally")
    require(!df.columns.contains(splitCol),
      s"clusterAwareSplit: input already has a '$splitCol' column — " +
        "rename or drop it (the join-back cannot replace it in place)")
    // LOUD type guard (ADVICE r17): a non-integral cluster label would
    // cast("long") to NULL while isNull stays false — every clustered doc
    // silently becomes its own singleton, the exact leak this operator
    // exists to prevent. Same for id (the representative hash domain).
    // Hash non-integral label domains to long first (e.g. xxhash64).
    import org.apache.spark.sql.types._
    def requireIntegral(c: Column, what: String): Unit = {
      val dt = df.select(c).schema.head.dataType
      require(dt.isInstanceOf[ByteType] || dt.isInstanceOf[ShortType] ||
          dt.isInstanceOf[IntegerType] || dt.isInstanceOf[LongType] ||
          (what == "cluster" && dt.isInstanceOf[NullType]),
        s"clusterAwareSplit: $what must be an integral column (got $dt) — " +
          "a silent cast-to-NULL would break the co-assignment guarantee; " +
          "hash other domains to long first")
    }
    requireIntegral(id, "id")
    requireIntegral(cluster, "cluster")
    // a NULL id on a singleton row would silently vanish in the USING
    // join (null keys never match) — fail at execution, not silently
    val idSafe = when(id.isNull, raise_error(lit(
      "clusterAwareSplit: NULL id — the representative needs a total " +
        "non-null id domain")).cast("long")).otherwise(id.cast("long"))
    val keyed = df
      .withColumn("__cs_s", cluster.isNull)
      .withColumn("__cs_c", coalesce(cluster.cast("long"), idSafe))
    val reps = keyed.groupBy(col("__cs_s"), col("__cs_c"))
      .agg(min(idSafe).as("__cs_rep"))
    val assigned = hashSplit(reps, col("__cs_rep"), salt, thresholds,
      splitCol).drop("__cs_rep")
    keyed.join(assigned, Seq("__cs_s", "__cs_c")).drop("__cs_s", "__cs_c")
  }

  /** Deterministic Bernoulli sample: keeps ~`num/65536` of rows, decided by
    * the first four hex chars of the salted content hash. Same row → same
    * decision, on any engine, at any parallelism. */
  def deterministicSample(df: DataFrame, key: Column, num: Int,
      salt: String = ""): DataFrame = {
    require(num >= 0 && num <= 65536, "num is a count out of 65536")
    // num=65536 would format as 5-hex "10000", which compares LOWER than
    // most 4-char prefixes lexicographically — short-circuit keep-all
    if (num == 65536) df
    else df.filter(hexPrefix(key, salt, 4) < lit(f"$num%04x"))
  }

  /** Stratified twin of [[deterministicSample]]: per-stratum keep counts
    * (out of 65536) over the same salted content-hash prefix — the standard
    * corpus-rebalancing move (down-weight overrepresented languages /
    * sources) without an RNG: same row → same decision on any engine, and
    * byte-identical duplicates inside a stratum sample identically. Strata
    * absent from `rates` take `defaultNum` (65536 = keep all). Still a pure
    * per-row projection — no shuffle, no per-stratum pass. */
  def stratifiedSample(df: DataFrame, key: Column, stratum: Column,
      rates: Map[String, Int], defaultNum: Int = 65536,
      salt: String = ""): DataFrame = {
    require((rates.values.toSeq :+ defaultNum).forall(n => n >= 0 && n <= 65536),
      "rates are counts out of 65536")
    val b = hexPrefix(key, salt, 4)
    def keep(num: Int): Column =
      if (num == 65536) lit(true) else b < lit(f"$num%04x")
    // sorted fold for a deterministic plan (Map order is not)
    val cond = rates.toSeq.sortBy(_._1).foldRight(keep(defaultNum)) {
      case ((s, num), rest) => when(stratum === lit(s), keep(num)).otherwise(rest)
    }
    df.filter(cond)
  }

  /** Weighted sampling WITHOUT replacement, size `n` — Efraimidis–Spirakis
    * exponential keys with the same salted-md5 determinism as every other
    * sampler here: each row gets `key = u^(1/w)` from a content-hash
    * uniform `u`, and the sample is the top-`n` rows by key. A row with
    * twice the weight is twice as likely to make the cut, duplicates
    * decide identically, and reruns at any parallelism return the SAME
    * sample — the quality- or length-weighted corpus mixing move, minus
    * the RNG.
    *
    * Shape at scale: key is a pure per-row projection; top-n is
    * `orderBy.limit` = distributed TakeOrdered (per-partition heaps + one
    * n-row driver merge), NOT a global sort — no shuffle of the corpus.
    * `u` reads 16 bits of the hash as `(hex4 + 0.5) / 65536` (the +0.5
    * dodges `pow(0, 1/w)`), exactly reproducible in any engine with md5;
    * keys derived from DISTINCT u values differ by far more than any
    * cross-engine pow ulp, and equal keys (byte-identical content) break
    * ties on `tieBreak` in both engines. */
  def weightedSample(df: DataFrame, key: Column, weight: Column, n: Int,
      tieBreak: Column, salt: String = ""): DataFrame = {
    require(n >= 0, "sample size must be non-negative")
    val u = (conv(hexPrefix(key, salt, 4), 16, 10).cast("long")
      .cast("double") + 0.5) / 65536.0
    df.withColumn("__wkey", pow(u, lit(1.0) / weight))
      .orderBy(col("__wkey").desc, tieBreak)
      .limit(n)
      .drop("__wkey")
  }

  /** Frequency-cap downsampling: bring every stratum down to ~`cap` rows
    * IN EXPECTATION, keeping strata already at or under the cap whole —
    * the standard "no single domain/language dominates the mix" move in a
    * crawl pipeline (a boilerplate-heavy domain with 10⁹ pages gets the
    * same budget as one with 10⁵). Unlike [[stratifiedSample]] the rates
    * are derived FROM the data, so no stratum list is known up front.
    *
    * Two-pass, both scale-clean: (1) per-stratum counts — a map-side-
    * combined aggregate whose output is |strata| rows; (2) the counts
    * joined back on the stratum key (tiny side → AQE auto-broadcasts
    * under threshold; with 10⁸ strata it degrades to an ordinary shuffle
    * join, still linear) and a pure per-row hash filter: keep iff
    * `hexPrefix < %04x(65536·cap div n)`. Integer `div` (not floating
    * floor) so the threshold is exact at any corpus size, and the same
    * salted-md5 keying as every other sampler here — deterministic on any
    * engine, byte-identical duplicates decide identically. The keep count
    * is binomial around `cap·(num/65536 ≈ 1)`, not exact — exactness
    * would need a per-stratum global sort, which is the shape this
    * operator exists to avoid. */
  def capSample(df: DataFrame, key: Column, stratum: Column, cap: Long,
      salt: String = ""): DataFrame = {
    require(cap >= 0 && cap <= Long.MaxValue / 65536L,
      "cap must be non-negative and below 2^47")
    val cnts = df.groupBy(stratum.as("__cs_stratum"))
      .agg(count(lit(1)).as("__cs_n"))
    // bigint div: exact integer threshold (a double floor could round a
    // quotient like k - 1/n up to k once 65536*cap exceeds 2^53)
    val num = expr(s"(${65536L * cap}L div __cs_n)")
    // null-safe join: a NULL stratum is a stratum like any other (groupBy
    // already counts it as one group) — a plain === would silently DROP
    // every null-stratum row instead of capping it
    df.join(cnts, stratum <=> col("__cs_stratum"))
      .filter(col("__cs_n") <= cap ||
        hexPrefix(key, salt, 4) < format_string("%04x", num.cast("int")))
      .drop("__cs_stratum", "__cs_n")
  }

  /** Temperature-based mixture resampling — the multilingual-corpus move
    * (sample stratum `s` with probability ∝ `n_s^(1/τ)`: τ = 1 keeps the
    * natural mix, τ → ∞ flattens it) budgeted to ~`targetRows` total IN
    * EXPECTATION, each stratum's rate capped at 1 (no replacement here —
    * upsampling a rare stratum is a repeat-pass concern, not a filter's).
    *
    * Same scale shape as [[capSample]]: one map-side count aggregate
    * (|strata| rows), a 1-row normalizer, an auto-broadcast join back,
    * and a pure per-row salted-md5 threshold — deterministic on any
    * engine at any parallelism. τ = 2 routes through `sqrt` (correctly
    * rounded per IEEE 754, so an oracle's sqrt reproduces the threshold
    * bit-for-bit); other τ use `pow`. The rate is rounded to 6 decimals
    * BEFORE the 16-bit floor so a last-ulp library difference cannot
    * flip a threshold. */
  def temperatureMix(df: DataFrame, key: Column, stratum: Column,
      tau: Double, targetRows: Long, salt: String = ""): DataFrame = {
    require(tau > 0 && targetRows >= 0, s"bad dials: tau=$tau target=$targetRows")
    def weigh(n: Column): Column =
      if (tau == 2.0) sqrt(n) else pow(n, 1.0 / tau)
    val cnts = df.groupBy(stratum.as("__tm_stratum"))
      .agg(count(lit(1)).as("__tm_n"))
    val z = cnts.agg(sum(weigh(col("__tm_n"))).as("__tm_z"))
    val thr = cnts.crossJoin(broadcast(z))
      .select(col("__tm_stratum"),
        floor(round(least(lit(1.0),
            weigh(col("__tm_n")) / col("__tm_z") * targetRows / col("__tm_n"))
          * 65536, 6)).cast("int").as("__tm_thr"))
    df.join(thr, stratum <=> col("__tm_stratum"))
      .filter(col("__tm_thr") >= 65536 ||
        hexPrefix(key, salt, 4) < format_string("%04x", col("__tm_thr")))
      .drop("__tm_stratum", "__tm_thr")
  }

  /** Leakage-safe split: the assignment is a pure function of the GROUP
    * key (domain / source / crawl host), so correlated or near-duplicate
    * documents inside one group can never straddle train and test — the
    * guard a per-document split cannot give (intra-domain boilerplate
    * would leak test content into train). A named contract over
    * [[hashSplit]]; still a pure per-row projection, no shuffle. */
  def groupSplit(df: DataFrame, groupKey: Column, salt: String = "",
      thresholds: Seq[(String, Int)] =
        Seq("train" -> 204, "valid" -> 230, "test" -> 256),
      splitCol: String = "split"): DataFrame =
    hashSplit(df, groupKey, salt, thresholds, splitCol)

  /** Bounded release seam for [[tokenBudget]]'s persisted classify tables
    * (ADVICE r12): keep the newest few handles, unpersist the oldest — the
    * leak is bounded at `keep` CacheManager entries per JVM instead of one
    * per call for the session lifetime, and a recycled entry's surviving
    * consumers simply recompute. Non-blocking unpersist: an in-flight job
    * over a recycled cache finishes from the blocks it already holds. */
  private val persistedClassify = new java.util.ArrayDeque[DataFrame]()
  private def boundedPersist(side: DataFrame, keep: Int = 8): DataFrame = {
    val p = side.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    persistedClassify.synchronized {
      persistedClassify.addLast(p)
      while (persistedClassify.size > keep)
        persistedClassify.removeFirst().unpersist(false)
    }
    p
  }

  /** Most classified score groups [[tokenBudget]] broadcasts for its
    * join; past it AQE picks the join from runtime sizes. */
  val MaxBroadcastGroups = 1000000L

  /** Budget-constrained greedy selection — the final assembly step of a
    * training mix: per stratum, rank rows by (score desc, tie asc) and
    * keep them while the RUNNING token total stays within `budget`
    * ("fill each language's token budget with its best documents").
    * Semantics identical to `sum(tokens) OVER (PARTITION BY stratum ORDER
    * BY score DESC, tie ROWS UNBOUNDED PRECEDING) <= budget` — but WITHOUT
    * one corpus-sized window partition per stratum (a 100 TB corpus is
    * mostly one language; that form is a single-reducer cliff). The
    * running sum is DECOMPOSED the [[TextOps.qualityTopQ]] way:
    *
    *  1. `groupBy(stratum, score)` → per-score-group row/token totals —
    *     map-side-combined; output is distinct score values, not rows.
    *  2. A running-total window over THAT tiny table classifies each
    *     group: tokens-before > budget ⇒ every row's cum exceeds budget —
    *     dropped WHOLESALE before any sort; tokens-before + group total ≤
    *     budget ⇒ kept wholesale (no per-row sum needed at all). At most
    *     ONE group per stratum straddles the boundary.
    *  3. The surviving candidate set (the inner join against the
    *     classified groups drops everything past the budget) is
    *     budget-bounded, so ONE per-row running-sum window over it —
    *     partitioned by (stratum, score), so each task is bounded by a
    *     single score-group's size, not the stratum's — decides the
    *     boundary group; whole groups pass on their flag. One pass: the
    *     r10 whole/boundary split-and-union re-executed the corpus-sized
    *     input once per branch (t23 bench cost 3× the window form —
    *     VERDICT r10 watch item 2); the single filter
    *     `whole OR cum <= budget` needs no union and no re-execution.
    *     The classified groups table is distinct-score-sized — persisted,
    *     counted off the cache, and broadcast when provably small (the
    *     common case: the corpus side never shuffles for the join); a
    *     degenerate near-unique score column falls back to AQE's runtime
    *     join choice instead of an unconditional driver broadcast
    *     (threshold: [[MaxBroadcastGroups]] rows).
    *
    * The residual skew is a MODAL score (one score value dominating a
    * stratum) landing on the boundary: pass `tieBucket` (any
    * non-decreasing function of `tie`, e.g. `floor(doc_id / 8192)`) to
    * decompose the boundary group the same way — per-bucket totals,
    * running totals over the distinct-bucket table, whole-keep/drop
    * buckets, and a per-row window only inside the single boundary
    * BUCKET. Probed at 10× by the retired TokenBudgetScaleProbe
    * (`git show b49ec23:src/main/scala/graft/examples/TokenBudgetScaleProbe.scala`,
    * numbers in BENCH_LOCAL_r10.md).
    *
    * Caller contract: `tokens` non-negative (they are token counts; the
    * wholesale drop relies on the running sum being monotone), `stratum`
    * and `score` non-null (the decomposition joins on them — same
    * contract as qualityTopQ), `tie` unique within a stratum so the kept
    * set is deterministic. */
  def tokenBudget(df: DataFrame, stratum: Column, tokens: Column,
      score: Column, tie: Column, budget: Long,
      tieBucket: Option[Column] = None): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val reserved = Seq("__tb_g", "__tb_s", "__tb_t", "__tb_gt", "__tb_tb",
      "__tb_whole", "__tb_b", "__tb_bt", "__tb_btb", "__tb_bwhole",
      "__tb_gtb", "__tb_cum")
    require(!df.columns.exists(reserved.contains),
      s"tokenBudget uses ${reserved.mkString(", ")} internally")
    import org.apache.spark.sql.expressions.Window
    val keyed = df.withColumn("__tb_g", stratum).withColumn("__tb_s", score)
      .withColumn("__tb_t", tokens.cast("long"))
    // distinct-score table: the window sorts score VALUES, not rows
    val wCum = Window.partitionBy(col("__tb_g")).orderBy(col("__tb_s").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val groups = keyed.groupBy(col("__tb_g"), col("__tb_s"))
      .agg(sum(col("__tb_t")).as("__tb_gt"))
      .withColumn("__tb_tb", coalesce(sum(col("__tb_gt")).over(wCum), lit(0L)))
      .filter(col("__tb_tb") <= budget) // tokens-before > budget: drop wholesale
      .withColumn("__tb_whole", col("__tb_tb") + col("__tb_gt") <= budget)
      .select(col("__tb_g"), col("__tb_s"), col("__tb_tb"), col("__tb_whole"))
    // The classified-groups table is distinct-(stratum, score)-sized — tiny
    // for real score columns (quantile buckets, quality tiers). But an
    // UNCONDITIONAL broadcast hint bypasses autoBroadcastJoinThreshold, and
    // with a near-unique continuous score (or many zero-token rows weakening
    // the >=1-token-per-group bound) the table approaches corpus size —
    // driver OOM at scale (r11 advisory). So: persist (∝ distinct scores,
    // not corpus), count cheaply off the cache, and only hint when the side
    // is provably small; past the threshold AQE picks the join from runtime
    // sizes. The persist also means the classify agg runs once, not twice.
    def sizeGatedBroadcast(side: DataFrame): DataFrame = {
      // persist + bounded release registry: a persist() here has no natural
      // unpersist point (the cache must outlive this call), so each
      // tokenBudget call would otherwise leak one CacheManager entry for
      // the session lifetime (ADVICE r12). boundedPersist recycles the
      // oldest handles — a recycled entry's consumers just recompute
      // (persist is purely a perf hint), and unlike localCheckpoint the
      // cached side keeps recompute-on-loss fault tolerance on a real
      // cluster. The count is necessarily eager: the broadcast-vs-shuffle
      // decision needs the size at plan-construction time.
      val p = boundedPersist(side)
      if (p.count() <= MaxBroadcastGroups) broadcast(p) else p
    }
    val cand = keyed.join(sizeGatedBroadcast(groups), Seq("__tb_g", "__tb_s"))
    val kept = tieBucket match {
      case None =>
        val wRow = Window.partitionBy(col("__tb_g"), col("__tb_s"))
          .orderBy(tie.asc)
          .rowsBetween(Window.unboundedPreceding, 0)
        // cum only matters where !__tb_whole; computing it for the whole
        // groups too is one sort of the budget-bounded candidate set and
        // saves the split-and-union (and its re-execution of `keyed`)
        cand
          .withColumn("__tb_cum", col("__tb_tb") + sum(col("__tb_t")).over(wRow))
          .filter(col("__tb_whole") || col("__tb_cum") <= budget)
          .drop("__tb_cum")
      case Some(tb) =>
        // same decomposition one level down: distinct TIE BUCKETS, running
        // totals over the bucket table, the per-row window partitioned by
        // (stratum, score, bucket) so each task is bounded by one bucket
        val bcand0 = cand.withColumn("__tb_b", tb)
        val wB = Window.partitionBy(col("__tb_g"), col("__tb_s"))
          .orderBy(col("__tb_b").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val bkts = bcand0.groupBy(col("__tb_g"), col("__tb_s"), col("__tb_b"))
          // __tb_tb is constant within a (stratum, score) group — min()
          // just carries it through the aggregate
          .agg(sum(col("__tb_t")).as("__tb_bt"), min(col("__tb_tb")).as("__tb_gtb"))
          .withColumn("__tb_btb",
            coalesce(sum(col("__tb_bt")).over(wB), lit(0L)))
          // buckets past the budget drop wholesale; whole-group buckets
          // always satisfy gtb + btb <= gtb + group_total <= budget, so
          // the filter never touches them
          .filter(col("__tb_gtb") + col("__tb_btb") <= budget)
          .withColumn("__tb_bwhole",
            col("__tb_gtb") + col("__tb_btb") + col("__tb_bt") <= budget)
          .select(col("__tb_g"), col("__tb_s"), col("__tb_b"),
            col("__tb_btb"), col("__tb_bwhole"))
        val wRow = Window.partitionBy(col("__tb_g"), col("__tb_s"), col("__tb_b"))
          .orderBy(tie.asc)
          .rowsBetween(Window.unboundedPreceding, 0)
        bcand0.join(sizeGatedBroadcast(bkts), Seq("__tb_g", "__tb_s", "__tb_b"))
          .withColumn("__tb_cum", col("__tb_tb") + col("__tb_btb")
            + sum(col("__tb_t")).over(wRow))
          .filter(col("__tb_whole") || col("__tb_bwhole") ||
            col("__tb_cum") <= budget)
          .drop("__tb_cum", "__tb_b", "__tb_btb", "__tb_bwhole")
    }
    kept.drop("__tb_g", "__tb_s", "__tb_t", "__tb_tb", "__tb_whole")
  }

  /** Per-cluster top-`perCluster` selection — the back half of
    * semantic-diversity sampling ("keep the best n of every embedding
    * cluster", SemDeDup-style cluster pruning with a deterministic
    * score). NOT a per-cluster `row_number` window: with a handful of
    * clusters a window partition is corpus/n_clusters-sized on one
    * reducer at 100 TB. Instead one aggregate per cluster with a
    * bounded-heap [[graft.functions.TopKAgg]] — map-side partials ship
    * ≤ perCluster entries per (partition, cluster), the reducer merges
    * ≤ perCluster·P, and the cluster row count rides the same pass.
    * Ordering (score desc, id asc) mirrors the window form exactly
    * (SamplingSpec pins the equivalence). Ids must be integral (they
    * ride the heap as longs, cast back on output). Returns
    * (clusterCol, cluster_size, idCol, rank). */
  def clusterBalancedSample(df: DataFrame, perCluster: Int,
      clusterCol: String = "centroid_id", scoreCol: String = "score",
      idCol: String = "doc_id"): DataFrame = {
    require(perCluster > 0, s"perCluster must be positive, got $perCluster")
    val idType = df.schema(idCol).dataType
    df.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("cluster_size"),
        graft.functions.TopKAgg(col(scoreCol), col(idCol).cast("long"),
          perCluster).as("__topk"))
      .select(col(clusterCol), col("cluster_size"),
        posexplode(col("__topk")))
      .select(col(clusterCol), col("cluster_size"),
        col("col.id").cast(idType).as(idCol),
        (col("pos") + 1).as("rank"))
  }

  /** EXACT frequency cap: per stratum, exactly `min(k, |stratum|)` rows,
    * chosen as the k SMALLEST salted 32-bit content hashes (ties by id asc)
    * — a deterministic reservoir. Complements [[capSample]], which caps in
    * EXPECTATION with a pure per-row filter: use this form when a
    * downstream contract needs the cap exact (a fixed eval-set size, a
    * per-language quota) and [[capSample]] when a binomial cap is fine and
    * even the k-sized aggregate state is unwelcome.
    *
    * Shape at scale: the hash is a per-row projection; the selection is
    * ONE map-side-combined [[graft.functions.TopKAgg]] pass (each map
    * partition ships ≤ k entries per stratum, a reducer merges ≤ k·P) —
    * never a `row_number` window, whose partition funnels an entire
    * stratum into one reducer task at 100 TB. Reuses
    * [[clusterBalancedSample]] with score = −hash, so the window
    * equivalence pinned by SamplingSpec carries over.
    *
    * Determinism contract: same salted-md5 keying as every sampler here —
    * same row, same decision, on any engine at any parallelism, and
    * byte-identical duplicate keys rank adjacently (the id tie-break keeps
    * the ordering total). Rows with a NULL key or NULL id are EXCLUDED
    * (the aggregate skips nulls) — hash-undefined rows must not occupy
    * quota slots silently. Ids must be integral (they ride the heap as
    * longs). Returns (stratum, stratum_size, id, rank) with rank 1..k in
    * hash order. */
  def exactCapSample(df: DataFrame, key: Column, stratum: Column,
      id: Column, k: Int, salt: String = ""): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // negated numeric value of the first 8 hex chars (32 bits: ~2^-16
    // collision odds at k=10^3, and any collision only engages the id
    // tie-break, not correctness); top-k by −hash == bottom-k by hash,
    // and fixed-width hex compares lexicographically exactly as the
    // numeric value does, so a SQL oracle reproduces the selection by
    // ordering on the hex prefix string itself
    val u = conv(hexPrefix(key, salt, 8), 16, 10).cast("long")
    val prepared = df.select(stratum.as("__ec_stratum"),
      negate(u.cast("double")).as("__ec_score"), id.as("__ec_id"))
    clusterBalancedSample(prepared, k, "__ec_stratum", "__ec_score", "__ec_id")
      .select(col("__ec_stratum").as("stratum"),
        col("cluster_size").as("stratum_size"),
        col("__ec_id").as("id"), col("rank"))
  }

  /** Deterministic training-shard EXPORT manifest — the last step of a
    * curation pipeline, where the surviving corpus becomes numbered
    * training shards. Every row is assigned to one of `nShards` shards by
    * a salted content hash (layout-independent: the same corpus shards
    * identically on any partitioning, any history, any engine), ordered
    * WITHIN its shard by the full hash with an id tie-break (a seeded,
    * reproducible global shuffle — training order must be decorrelated
    * from ingest order yet bit-reproducible across re-runs), and
    * summarized as one MANIFEST row per shard: row count, id checksum,
    * an ORDER fingerprint `Σ pos·(id mod 1000003) mod 1000000007` that a
    * consumer (or the SQL oracle) recomputes to audit membership AND
    * order, and the first/last order keys (the shard's hash range).
    *
    * Scale shape: ONE shuffle on (shard) with an in-partition sort — the
    * exact exchange the shard write itself needs, nothing extra — then a
    * per-shard aggregate. Shard sizes are hash-balanced (exactly unbiased
    * when nShards divides 65536, ±1/65536 otherwise). The fingerprint
    * terms stay below 10^15, so the per-shard sum fits a long up to
    * ~10^4 billion rows per shard — far past any real shard. */
  /** Deterministic MIXTURE sampling to a global TOKEN budget — the data-
    * mixing step of a training-corpus build: "give me `budget` tokens at
    * these relative per-source proportions", e.g. 30% web / 45% code /
    * 25% books. [[temperatureMix]] rebalances ROW counts by a power law
    * and [[tokenBudget]] fills a PER-STRATUM budget by a score; this
    * operator fills ONE global budget across strata to TARGET weights,
    * honestly clamping to what each source actually has.
    *
    * Quotas are EXACT-integer water-filling (every step is Long
    * arithmetic — floor-divided proportional shares — so any engine
    * reproduces them bit-for-bit; no float weight normalization):
    * repeatedly give each active stratum `w_s·R / ΣW_active` (floored)
    * of the remaining budget R; a stratum whose availability is at or
    * under its share is CLAMPED to its availability (it contributes
    * everything it has), its tokens leave R, and the rest of the budget
    * re-fills the remaining strata at their relative weights — at most
    * |weights| rounds, on a per-stratum aggregate collected to the
    * driver (bounded by the weight map the caller wrote, never by data).
    *
    * Within a stratum the kept set is the PREFIX of the salted-md5 hash
    * order (unbiased, engine-reproducible — the [[hexPrefix]] contract)
    * whose inclusive token sum stays ≤ the quota: greedy-to-the-boundary,
    * so achieved tokens land within one document of the quota. Strata
    * absent from `weights` are excluded.
    *
    * Scale shape: one per-stratum aggregate, then the prefix rule as a
    * BUCKET-DECOMPOSED cumulative sum — per-(stratum, 256-bucket) token
    * totals roll up to bucket offsets (a broadcast-sized table), and the
    * in-bucket cumulative window partitions by (stratum, bucket), so no
    * stratum ever funnels through one task (the naive per-stratum window
    * would — a 40%-weight stratum of a 100 TB corpus is 40 TB in one
    * partition). Returns the kept rows with their `mix_quota`. */
  def mixtureByTokens(df: DataFrame, stratum: Column, tokens: Column,
      key: Column, weights: Map[String, Long], budget: Long,
      salt: String = ""): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be non-empty and positive")
    require(weights.values.sum <= 1000000L,
      "relative weights must sum to <= 1e6 (quota arithmetic stays exact in Long)")
    require(budget <= 1000000000000L,
      "budget must be <= 1e12 tokens (quota arithmetic stays exact in Long)")
    val reserved = Seq("__mx_g", "__mx_t", "__mx_h", "__mx_k", "__mx_b",
      "__mx_off", "__mx_cum", "mix_quota")
    require(!df.columns.exists(reserved.contains),
      s"mixtureByTokens uses ${reserved.mkString(", ")} internally")
    import org.apache.spark.sql.expressions.Window
    val keyed = df
      .withColumn("__mx_g", stratum.cast("string"))
      .withColumn("__mx_t", tokens.cast("long"))
      .withColumn("__mx_h", hexPrefix(key, salt, 8))
      .withColumn("__mx_k", key.cast("string"))
      .filter(col("__mx_g").isin(weights.keys.toSeq: _*))
      .withColumn("__mx_b", substring(col("__mx_h"), 1, 2))
    // availability per stratum: ≤ |weights| rows — a bounded collect
    val avail: Map[String, Long] = keyed.groupBy(col("__mx_g"))
      .agg(sum(col("__mx_t")).as("av"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact-integer water-fill (strata with no rows clamp at 0 trivially)
    val quotas = scala.collection.mutable.Map[String, Long]()
    var active = weights.view.filterKeys(avail.contains).toMap
    var remaining = budget
    var done = false
    while (!done && active.nonEmpty) {
      val sw = active.values.sum
      val share = active.map { case (s, w) => s -> (w * remaining) / sw }
      val clamped = active.keys.filter(s => avail(s) <= share(s)).toSeq
      if (clamped.isEmpty) { share.foreach(quotas += _); done = true }
      else {
        clamped.foreach { s => quotas(s) = avail(s); remaining -= avail(s) }
        active = active -- clamped
      }
    }
    val quotaDf = broadcast(keyed.sparkSession
      .createDataFrame(quotas.toSeq.map(kv => (kv._1, kv._2)))
      .toDF("__mx_g", "mix_quota"))
    // bucket offsets: full-bucket token sums before each (stratum, bucket)
    // — strata×256 rows, broadcast back onto the rows
    val wOff = Window.partitionBy(col("__mx_g")).orderBy(col("__mx_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = broadcast(keyed.groupBy(col("__mx_g"), col("__mx_b"))
      .agg(sum(col("__mx_t")).as("__bt"))
      .withColumn("__mx_off", coalesce(sum(col("__bt")).over(wOff), lit(0L)))
      .select(col("__mx_g"), col("__mx_b"), col("__mx_off")))
    // in-bucket cumulative (≤ 1/256 of a stratum per task) + bucket offset
    // = the global hash-order inclusive cumulative
    val wCum = Window.partitionBy(col("__mx_g"), col("__mx_b"))
      .orderBy(col("__mx_h"), col("__mx_k"))
      .rowsBetween(Window.unboundedPreceding, 0)
    keyed
      .join(offsets, Seq("__mx_g", "__mx_b"))
      .join(quotaDf, Seq("__mx_g"))
      .withColumn("__mx_cum", col("__mx_off") + sum(col("__mx_t")).over(wCum))
      .filter(col("__mx_cum") <= col("mix_quota"))
      .drop("__mx_g", "__mx_t", "__mx_h", "__mx_k", "__mx_b", "__mx_off",
        "__mx_cum")
  }

  def shardManifest(df: DataFrame, key: Column, id: Column, nShards: Int,
      salt: String = ""): DataFrame = {
    require(nShards >= 1 && nShards <= 65536,
      s"nShards must be in [1, 65536], got $nShards")
    import org.apache.spark.sql.expressions.Window
    val withShard = df.select(
      pmod(conv(hexPrefix(key, salt, 4), 16, 10).cast("long"),
        lit(nShards.toLong)).as("shard"),
      md5(concat(lit(salt), key.cast("string"))).as("__h"),
      id.cast("long").as("__id"))
    val w = Window.partitionBy(col("shard")).orderBy(col("__h"), col("__id"))
    withShard
      .withColumn("__pos", row_number().over(w).cast("long"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("__id")).as("id_sum"),
        pmod(sum(pmod(col("__pos") * pmod(col("__id"), lit(1000003L)),
          lit(1000000007L))), lit(1000000007L)).as("order_fp"),
        min(col("__h")).as("first_key"),
        max(col("__h")).as("last_key"))
  }

  /** Audit a DELIVERED export against its claimed [[shardManifest]] — the
    * consumer-side half of the reproducible-export contract: recompute
    * the manifest from the delivered rows (same key/id/nShards/salt
    * dials) and compare per shard. `rows_ok` catches cardinality drift
    * (a lost or duplicated file), `ids_ok` membership drift (wrong rows
    * of the right count), `order_ok` any change to the canonical
    * training order (position-weighted, so id substitutions that
    * preserve the id SUM still break it), `range_ok` the shard's hash
    * span; null-safe comparisons make a missing shard fail every flag
    * rather than vanish from the report. Cost: the recompute's one
    * (shard) shuffle over the delivered rows + a join against the
    * nShards-row claimed manifest — auditing a 100 TB export costs one
    * pass, and the manifest side is kilobytes. */
  def auditShardExport(delivered: DataFrame, manifest: DataFrame,
      key: Column, id: Column, nShards: Int, salt: String = ""): DataFrame = {
    val recomputed = shardManifest(delivered, key, id, nShards, salt)
    val m = manifest.select(col("shard"),
      col("n_rows").as("__m_rows"), col("id_sum").as("__m_ids"),
      col("order_fp").as("__m_fp"), col("first_key").as("__m_first"),
      col("last_key").as("__m_last"))
    recomputed.join(broadcast(m), Seq("shard"), "full_outer")
      .select(col("shard"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        (col("n_rows") <=> col("__m_rows")).as("rows_ok"),
        (col("id_sum") <=> col("__m_ids")).as("ids_ok"),
        (col("order_fp") <=> col("__m_fp")).as("order_ok"),
        (col("first_key") <=> col("__m_first") &&
          col("last_key") <=> col("__m_last")).as("range_ok"))
  }
}
