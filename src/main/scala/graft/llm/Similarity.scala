package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types.{ByteType, DoubleType, IntegerType, LongType, ShortType, StructField, StructType}

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - `bruteForceTopK`: exact cosine top-k — broadcast the (small) query set
  *    against the corpus; one pass, no shuffle of the corpus, window top-k
  *    per query. The at-scale baseline when queries ≪ corpus.
  *  - `lshTopK`: random-hyperplane LSH variant — corpus and queries are
  *    bucketed by sign bits; only same-bucket (multi-probe: and near-bucket)
  *    pairs are scored. Recall < 1, cost ~ corpus/2^bits per query. The
  *    scale path when both sides are large.
  *
  * Dot products are pure `zip_with`/`aggregate` expressions (no UDFs).
  * Hyperplanes are generated from a fixed seed → deterministic results.
  */
object Similarity {

  /** The fitted IVFADC quantizer — the once-per-corpus index artifact (the
    * FAISS `index.train(...)` output): coarse k-means centroids in RAW
    * vector space (cell assignment is cosine, scale-invariant), per-cell
    * means of the NORMALIZED sample members (residual reference points),
    * and the residual PQ codebooks `codebooks(subspace)(code) = centroid`.
    * Small by construction — nlist·dim + nlist·dim + m·codebookSize·(dim/m)
    * doubles — so it rides the plan as one object per kernel
    * ([[graft.functions.CentroidTopN]], [[graft.functions.PqEncode]]) AND
    * persists as a tiny durable artifact ([[IndexStore]]) that every later
    * query and every ingest batch reuses instead of re-fitting. */
  final case class ResidualQuantizer(
      dim: Int, nlist: Int, m: Int, codebookSize: Int,
      centroids: Seq[(Int, Seq[Double])],
      cellMeans: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]])

  /** Cosine similarity of two array<float/double> columns (0 for zero-norm).
    * Backed by the codegen'd native expression
    * [[graft.functions.CosineSimilarity]] — a single fused loop instead of
    * zip_with+aggregate lambda interpretation. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  /** Exact top-k: for each row of `queries` (small — broadcast), the k most
    * cosine-similar rows of `corpus`. Returns (query_id, corpus_id, cos, rank).
    * The final rank goes through the two-phase bounded-heap [[finalTopK]]
    * (map-side partial TopKAgg, then a ≤ k·P merge) — the corpus scan never
    * funnels into a per-query window sort, so this is also the production
    * "queries ≪ corpus" path, not just the oracle twin. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec")))
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("c_vec"))
    val scored = c.crossJoin(q)
      .select(col("query_id"), col("corpus_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos"))
    finalTopK(scored, k)
  }

  /** Scale-safe exact top-k per query over a (query_id, corpus_id, cos)
    * candidate frame. Two-phase: a bounded-heap [[graft.functions.TopKAgg]]
    * with map-side partial aggregation (each map partition ships ≤ k entries
    * per query; a reducer merges ≤ k·P), then a best-first explode for the
    * rank column. Identical results to the window form — the heap mirrors
    * the (cos desc, corpus_id asc) tie-break.
    *
    * Integral ids ride the heap as longs and are cast back to the source id
    * type on output; non-integral ids (rare — the library's id columns are
    * int64) fall back to the window form, documented small-scale only. */
  private[graft] def finalTopK(scored: DataFrame, k: Int): DataFrame =
    scored.schema("corpus_id").dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        val idType = scored.schema("corpus_id").dataType
        scored.groupBy("query_id")
          .agg(graft.functions.TopKAgg(col("cos"), col("corpus_id").cast("long"), k).as("topk"))
          .select(col("query_id"), posexplode(col("topk")))
          .select(col("query_id"),
            col("col.id").cast(idType).as("corpus_id"),
            col("col.score").as("cos"),
            (col("pos") + 1).as("rank"))
      case _ =>
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("corpus_id").asc)
        scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    }

  /** L2 norm of an array<float/double> column. */
  def l2Norm(v: Column): Column =
    sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** L2-normalize (zero vectors pass through unchanged). `v` should be a
    * bound column (HOF-lambda CSE rule). */
  def l2Normalize(v: Column): Column = {
    val n = l2Norm(v)
    when(n === 0, v.cast("array<double>"))
      .otherwise(transform(v, x => x.cast("double") / n))
  }

  /** Symmetric int8 quantization with a per-vector scale = max|x|/127:
    * returns (scale, array<int> codes). The standard storage/bandwidth dial
    * for embedding corpora (4× smaller than float32, 8× than float64).
    * One fused native pass ([[graft.functions.QuantizeInt8]]) — the HOF
    * form re-inlined its (normalize-chain) child into every lambda
    * reference and re-ran it per CANDIDATE PAIR when the projection
    * collapsed into the s07 probe join: ~30× on the int8 scan. */
  def quantizeInt8(v: Column): Column = graft.functions.QuantizeInt8(v)

  /** Deterministic signed random projection (Johnson–Lindenstrauss,
    * Achlioptas ±1 form): `y_j = (1/√outDim) · Σ_i s_ij x_i` with signs
    * from a plan-time splitmix64 of `(salt, j, i)`. The projection matrix
    * never exists as DATA — it rides the plan as `outDim` array literals,
    * and each output coordinate is one fused codegen'd
    * [[graft.functions.DotDouble]] loop, so the operator is a pure
    * projection: no shuffle, no state, reproducible on any engine that
    * replays the splitmix64 signs. The embedding-compression move for ANN
    * prefilters (store/scan `outDim ≪ dim` doubles, re-rank survivors at
    * full width); norms and pairwise distances are preserved within the
    * JL distortion `O(√(1/outDim))` per vector. */
  def randomProject(df: DataFrame, dim: Int, outDim: Int,
      vecCol: String = "embedding", outCol: String = "projected",
      salt: Long = 0x675f72616e647072L): DataFrame = {
    require(dim >= 1 && outDim >= 1, s"bad dims: $dim -> $outDim")
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val vd = col(vecCol).cast(
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))
    // NB: the explicit Seq[Double] type argument matters — an inferred
    // IndexedSeq tag has no encoder and typedlit falls back to an
    // unsupported plain Literal at runtime
    val rows = (0 until outDim).map { j =>
      typedlit[Seq[Double]]((0 until dim).map { i =>
        if ((mix(salt ^ (j.toLong << 32) ^ i.toLong) & 1L) == 0L) scale
        else -scale
      }.toList)
    }
    df.withColumn(outCol,
      array(rows.map(r => graft.functions.DotDouble(vd, r)): _*))
  }

  /** JL random-projection ANN prefilter top-k: both sides are
    * [[randomProject]]-ed `dim → outDim` (outDim ≪ dim — the scan
    * arithmetic/bandwidth dial), the best `rerank·k` candidates per query
    * are selected on PROJECTED cosine (JL preserves inner products within
    * `O(√(1/outDim))` distortion), and only those survivors are re-scored
    * at full width ([[rerankExact]]: bounded-heap TopKAgg + broadcast
    * candidate join — the corpus is never shuffled). A true top-k member
    * is lost only if projection distortion pushes it out of the top
    * `rerank·k`; with `rerank·k ≥` corpus size the output is exactly
    * [[bruteForceTopK]]'s (spec-pinned). Unlike LSH/IVF there is no
    * bucketing state at all — the prefilter is a pure projection, so this
    * is the simplest scale path when queries ≪ corpus. */
  def jlTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      outDim: Int, rerank: Int = 4, salt: Long = 0x675f72616e647072L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rerank >= 1, "rerank >= 1")
    val cp = randomProject(corpus, dim, outDim, vecCol, "__p", salt)
      .select(col(idCol).as("corpus_id"), col("__p"))
    val qp = randomProject(queries, dim, outDim, vecCol, "__p", salt)
      .select(col(idCol).as("query_id"), col("__p").as("__qp"))
    val approx = cp.crossJoin(broadcast(qp))
      .select(col("query_id"), col("corpus_id"),
        cosine(col("__qp"), col("__p")).as("ascore"))
    rerankExact(corpus, queries, approx, k, rerank, idCol, vecCol)
  }

  // ------------------------------------------------------------- LSH variant

  /** Deterministic pseudo-random hyperplanes: `bits` planes × `dim` coords in
    * [-1,1], from splitmix64 of the fixed seed. */
  private def planes(bits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    var z0 = seed
    def next(): Long = { z0 += 0x9e3779b97f4a7c15L
      var z = z0
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31) }
    Array.fill(bits)(Array.fill(dim)(
      (next().toDouble / Long.MaxValue.toDouble)))
  }

  /** Sign-bit bucket id of a vector under the hyperplanes. */
  private def bucketCol(vec: Column, hp: Array[Array[Double]]): Column =
    hp.zipWithIndex.map { case (plane, j) =>
      val planeArr = array(plane.map(lit).toIndexedSeq: _*)
      val dot = aggregate(zip_with(vec, planeArr, (x, p) => x.cast("double") * p),
        lit(0.0), (acc, v) => acc + v)
      when(dot >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** The LSH keys of `vec` as one `array<struct<t, b>>` column: one
    * (table, bucket) key per hyperplane family `t` (planes seeded
    * `seed + t`), so families never cross-match. `probeBits = n` adds,
    * per family, the n buckets at hamming distance 1 on the lowest n bits
    * (multi-probe). Every LSH path keys BOTH its sides here, so the stored
    * and the probing side hash with the same planes by construction. */
  private def lshKeys(vec: Column, dim: Int, bits: Int, seed: Long,
      tables: Int, probeBits: Int = 0): Column = {
    require(tables >= 1, "tables >= 1")
    array((0 until tables).flatMap { t =>
      val b0 = bucketCol(vec, planes(bits, dim, seed + t))
      (b0 +: (0 until probeBits).map(j => b0.bitwiseXOR(lit(1L << j))))
        .map(b => struct(lit(t).as("t"), b.as("b")))
    }: _*)
  }

  /** Approximate top-k via random-hyperplane buckets. Recall/cost dials:
    * `probeBits=n` additionally probes the n buckets at hamming distance 1
    * on the lowest n bits (multi-probe); `tables=L` runs L INDEPENDENT
    * hyperplane families and unions their candidates — the standard lever
    * when the corpus has little cluster structure (a near neighbour
    * landing across a plane in one table rarely does so in all L).
    * Candidate fraction ≈ L·(1+probeBits)/2^bits of the corpus per query;
    * cost scales the same way, still ≪ brute force at scale. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      bits: Int = 12, probeBits: Int = 4, seed: Long = 42L,
      tables: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("c_vec"),
      explode(lshKeys(col(vecCol), dim, bits, seed, tables)).as("tb"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      explode(lshKeys(col(vecCol), dim, bits, seed, tables, probeBits))
        .as("tb"))
    val scored = c.join(broadcast(q), Seq("tb"))
      .select(col("query_id"), col("corpus_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos"))
      .groupBy("query_id", "corpus_id").agg(max("cos").as("cos"))
    finalTopK(scored, k)
  }

  // ------------------------------------------------------------- IVF variant

  /** IVF (inverted-file) approximate top-k: the corpus is clustered into
    * `nlist` centroids (k-means), each vector assigned to its nearest
    * centroid's inverted list; a query scores only the lists of its
    * `nprobe` nearest centroids — cost ≈ corpus·nprobe/nlist per query.
    * Deterministic (fixed seed). Centroids are tiny → broadcast joins. */
  def ivfTopK(spark: org.apache.spark.sql.SparkSession, corpus: DataFrame,
      queries: DataFrame, k: Int, nlist: Int = 16, nprobe: Int = 4,
      seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding", fitSampleLimit: Int = 100000): DataFrame = {
    val centroids = kmeansCentroids(corpus, nlist, seed, idCol, vecCol,
      fitSampleLimit)
    searchFlat(assignToCentroids(corpus, centroids, idCol, vecCol),
      centroids, queries, k, nprobe, idCol, vecCol)
  }

  /** Bounded-sample k-means fit: k-means over the full corpus would be a
    * multi-pass O(corpus) job at 100 TB for centroids whose quality
    * saturates at ~10³ points per list; the limit reads only as many
    * partitions as needed. */
  /** THE bounded-sample contract for every driver-local fit (coarse
    * k-means, IMI half-codebooks, PQ codebooks): a UNIFORM Bernoulli
    * sample at fraction `fitSampleLimit / count`, null-filtered, widened
    * to double — `fitSampleLimit` hard-caps driver memory (100k × 64
    * doubles ≈ 50 MB; the trailing limit only trims the rare overshoot).
    *
    * r12: this was `.limit(fitSampleLimit)` — which reads only the FIRST
    * partitions of the corpus. On any layout-correlated corpus (time- or
    * source-sorted files — i.e., every real corpus) that fits the
    * quantizers on a non-representative slice; the sf10 rehearsal caught
    * it red-handed: the PQ codebooks centered on the middle copy-offsets
    * of the amplified corpus, the query region quantized badly, and s09's
    * recall gate went RED with the approx path returning a contiguous
    * band of far copies at cos 0.97 instead of the true 0.9999 neighbors.
    * The uniform sample costs one count + one narrow scan of the vector
    * column per POOL — the honest price of a representative codebook; the
    * limit-based form was cheaper but WRONG at scale. Centralized so the
    * sampling rules can't drift between the fits; multi-fit queries (IVF-PQ
    * coarse + codebooks (+ residual)) draw ONE pool and derive the
    * normalized/residual variants driver-side instead of paying a
    * count+scan per fit (VERDICT r12 #4). The Bernoulli seed is the
    * CALLER's seed (was a hardcoded 7L — two fits with different user
    * seeds drew the same pool, ADVICE r12). */
  private def sampleVectors(corpus: DataFrame, vecCol: String,
      fitSampleLimit: Int, seed: Long, what: String): Array[Array[Double]] = {
    val pool = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(vecCol).cast("array<double>").as("__v"))
    val n = pool.count()
    require(n > 0, s"$what: empty corpus")
    val frac = fitSampleLimit.toDouble / n.toDouble
    val thinned = if (frac >= 1.0) pool else pool.sample(false, frac, seed)
    val sample = thinned.limit(fitSampleLimit)
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, s"$what: empty corpus")
    sample
  }

  /** Driver-side mirror of [[l2Normalize]] (zero vectors pass through) —
    * lets one RAW sample pool serve both the coarse k-means fit (raw
    * space) and the PQ/IMI codebook fits (normalized space) without a
    * second corpus scan. */
  private def l2NormalizeLocal(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v.clone()
    else {
      val o = new Array[Double](v.length)
      i = 0
      while (i < v.length) { o(i) = v(i) / n; i += 1 }
      o
    }
  }

  /** Coarse centroids from an already-drawn sample pool — the shared-pool
    * entry for multi-fit queries. */
  private def kmeansCentroidsFromSample(sample: Array[Array[Double]],
      nlist: Int, seed: Long): Seq[(Int, Seq[Double])] =
    localKMeans(sample, nlist, seed).zipWithIndex.map { case (c, i) =>
      (i, c.toSeq)
    }.toSeq

  private[graft] def kmeansCentroids(corpus: DataFrame, nlist: Int, seed: Long,
      idCol: String, vecCol: String,
      fitSampleLimit: Int): Seq[(Int, Seq[Double])] = {
    // ONE bounded scan, collected, then driver-local Lloyd's — the same
    // move that fixed the PQ codebook fit (s09 7.8 → 2.8 s): a distributed
    // ml.KMeans here scheduled ~maxIter tiny cluster jobs per fit, paid by
    // every IVF-family query, for work a driver core does in milliseconds.
    val sample = sampleVectors(corpus, vecCol, fitSampleLimit, seed,
      "kmeansCentroids")
    kmeansCentroidsFromSample(sample, nlist, seed)
  }

  /** Shuffle-free nearest-centroid assignment: a SINGLE PROJECTION over
    * the bounded centroid set — per row one compiled
    * [[graft.functions.CentroidTopN]] call that holds the centroid matrix
    * as one plan object, with ZERO shuffle between the corpus scan and
    * whatever consumes the assignment. The former crossJoin+window
    * shape shuffled corpus×nlist rows just to pick each row's max — at
    * 100 TB and nlist=1024 a ~PB exchange for a per-row argmax. Ties
    * break (sim desc, centroid_id asc). A NULL vector gets no centroid
    * (no row); a vector of the wrong dimension fails the job. Returns
    * (centroid_id, corpus_id, c_vec). */
  private[graft] def assignToCentroids(corpus: DataFrame,
      centroids: Seq[(Int, Seq[Double])], idCol: String,
      vecCol: String): DataFrame =
    // array_max of the one-id array keeps centroid_id nullable, the
    // schema every stored segment was written with
    corpus.filter(col(vecCol).isNotNull).select(
      array_max(graft.functions.CentroidTopN(col(vecCol), centroids, 1))
        .as("centroid_id"),
      col(idCol).as("corpus_id"), col(vecCol).as("c_vec"))

  /** Primitive bounded top-n accumulator over (score, id) with the ANN
    * family's (score desc, id asc) ordering under Spark's double ordering
    * (NaN greatest, −0.0 == 0.0): a min-heap keyed worst-at-root, zero
    * boxing — O(log n) per offer instead of a full sort of every
    * candidate. Shared by centroid assignment
    * ([[graft.functions.CentroidTopN]]) and the IMI cell scan. NOT
    * thread-safe; one instance per row. */
  private[graft] final class BoundedTopN(k: Int) {
    private val hs = new Array[Double](k)
    private val hi = new Array[Int](k)
    private var n = 0
    // (s1,i1) ranks strictly worse than (s2,i2)
    private def worse(s1: Double, i1: Int, s2: Double, i2: Int): Boolean = {
      val c = SQLOrderingUtil.compareDoubles(s1, s2)
      c < 0 || (c == 0 && i1 > i2)
    }
    def offer(s: Double, id: Int): Unit = {
      if (n < k) {
        var pos = n; hs(pos) = s; hi(pos) = id; n += 1
        while (pos > 0 && {
          val par = (pos - 1) >> 1
          worse(hs(pos), hi(pos), hs(par), hi(par)) && {
            val ts = hs(par); val ti = hi(par)
            hs(par) = hs(pos); hi(par) = hi(pos)
            hs(pos) = ts; hi(pos) = ti; pos = par; true
          }
        }) ()
      } else if (worse(hs(0), hi(0), s, id)) {
        // sift-down bounds use k: this branch only runs once n == k
        hs(0) = s; hi(0) = id
        var pos = 0; var done = false
        while (!done) {
          val l = 2 * pos + 1; val r = l + 1
          var w = pos // child that ranks worst
          if (l < k && worse(hs(l), hi(l), hs(w), hi(w))) w = l
          if (r < k && worse(hs(r), hi(r), hs(w), hi(w))) w = r
          if (w == pos) done = true
          else {
            val ts = hs(pos); val ti = hi(pos)
            hs(pos) = hs(w); hi(pos) = hi(w)
            hs(w) = ts; hi(w) = ti; pos = w
          }
        }
      }
    }
    /** Kept ids, best-first ((score desc, id asc)). */
    def drainIds(): Array[Int] =
      Array.range(0, n).sortWith((p, q) => worse(hs(q), hi(q), hs(p), hi(p)))
        .map(hi)
  }

  /** Exact mirror of [[graft.functions.CosineSimilarity]]'s arithmetic
    * (same accumulation order, zero-norm → 0): the plain-Scala reference
    * for driver-side fits and broadcast scans. Iterates over `a`'s length,
    * so callers pass equal-length vectors. */
  private[graft] def cosineLocal(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Top-`n` nearest centroids per row — the multi-assignment sibling of
    * [[assignToCentroids]], same shuffle-free shape and input rules: one
    * [[graft.functions.CentroidTopN]] call per row, exploded (n rows per
    * input row, none for a NULL vector). Returns (centroid_id, corpus_id,
    * c_vec). */
  private[graft] def assignTopCentroids(df: DataFrame,
      centroids: Seq[(Int, Seq[Double])], n: Int, idCol: String,
      vecCol: String): DataFrame =
    df.select(
      explode(graft.functions.CentroidTopN(col(vecCol), centroids, n))
        .as("centroid_id"),
      col(idCol).as("corpus_id"), col(vecCol).as("c_vec"))

  // ------------------------------ one encode and one search per IVF family
  //
  // Every IVF family is fit → encode → search. The fit-per-query entry
  // points fit in-query, encode the corpus and search the lists they just
  // built; [[IndexStore]] loads its persisted fit, appends the SAME encode
  // per batch and runs the SAME search over its committed segments.
  //
  //   family    encode (corpus/batch → lists)   search (lists → top-k)
  //   flat      assignToCentroids               searchFlat
  //   int8      encodeInt8                      searchInt8
  //   IMI       imiAssignTop(…, n = 1, …)       searchImi
  //   residual  encodeResidual                  searchResidual

  /** The probe side of the centroid families: each query's `nprobe`
    * nearest centroids as (centroid_id, query_id, q_vec). */
  private def probeCells(queries: DataFrame,
      centroids: Seq[(Int, Seq[Double])], nprobe: Int, idCol: String,
      vecCol: String): DataFrame =
    assignTopCentroids(queries, centroids, nprobe, idCol, vecCol)
      .select(col("centroid_id"), col("corpus_id").as("query_id"),
        col("c_vec").as("q_vec"))

  /** Exact-cosine scan of the probed inverted lists, then the bounded
    * top-k — the whole search of the families whose lists hold raw
    * vectors. `lists` carry (`cell`, corpus_id, c_vec), `probes` (`cell`,
    * query_id, q_vec); the probe side is broadcast, the lists are scanned
    * once, never shuffled. */
  private def scanExact(lists: DataFrame, probes: DataFrame, cell: String,
      k: Int): DataFrame =
    finalTopK(lists.join(broadcast(probes), Seq(cell))
      .select(col("query_id"), col("corpus_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos")), k)

  /** IVF-Flat search over (centroid_id, corpus_id, c_vec) lists: each
    * query probes its `nprobe` nearest cells, scored with exact cosine. */
  private[graft] def searchFlat(lists: DataFrame,
      centroids: Seq[(Int, Seq[Double])], queries: DataFrame, k: Int,
      nprobe: Int, idCol: String, vecCol: String): DataFrame =
    scanExact(lists, probeCells(queries, centroids, nprobe, idCol, vecCol),
      "centroid_id", k)

  /** IVF-int8 encode: nearest-centroid assignment, then per-vector
    * L2-normalize + [[quantizeInt8]] — rows (centroid_id, corpus_id,
    * cq struct(scale, codes)), 1 byte per dimension. */
  private[graft] def encodeInt8(corpus: DataFrame,
      centroids: Seq[(Int, Seq[Double])], idCol: String,
      vecCol: String): DataFrame =
    assignToCentroids(corpus, centroids, idCol, vecCol)
      .select(col("centroid_id"),
        col("corpus_id").cast("long").as("corpus_id"),
        quantizeInt8(l2Normalize(col("c_vec"))).as("cq"))

  /** IVF-int8 search over [[encodeInt8]] lists: the probed lists score
    * `scale_q · scale_c · dot(codes_q, codes_c)` ([[graft.functions.DotInt8]]),
    * then the [[rerankExact]] tail re-scores the rerank·k survivors per
    * query against the raw `corpus`. */
  private[graft] def searchInt8(lists: DataFrame,
      centroids: Seq[(Int, Seq[Double])], corpus: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int, rerank: Int, idCol: String,
      vecCol: String): DataFrame = {
    val probes = probeCells(queries, centroids, nprobe, idCol, vecCol)
      .select(col("centroid_id"), col("query_id"),
        quantizeInt8(l2Normalize(col("q_vec"))).as("qq"))
    val approx = lists.join(broadcast(probes), Seq("centroid_id"))
      .select(col("query_id"), col("corpus_id"),
        (col("qq").getField("scale") * col("cq").getField("scale") *
          graft.functions.DotInt8(col("qq").getField("codes"),
            col("cq").getField("codes"))).as("ascore"))
    rerankExact(corpus, queries, approx, k, rerank, idCol, vecCol)
  }

  /** IVF top-k with an int8-quantized candidate scan and exact re-rank —
    * the memory-bandwidth shape for a 100 TB corpus. Both sides are
    * L2-normalized then [[quantizeInt8]]-ed, so the inverted-list scan
    * scores `scale_q · scale_c · dot(codes_q, codes_c)` over int codes
    * ([[graft.functions.DotInt8]], one fused codegen loop) — 4× less scan
    * traffic than float32, 8× than float64. Per query the best
    * `rerank·k` candidates survive (bounded-heap [[graft.functions.TopKAgg]],
    * map-side combined), and ONLY those are re-scored with full-precision
    * cosine against the original vectors (broadcast candidate join — the
    * corpus is never shuffled). Quantization error therefore affects
    * results only when a true top-k member falls outside the top
    * `rerank·k` approximate candidates; with `nprobe = nlist` and
    * `rerank·k ≥` corpus size the output is exactly [[bruteForceTopK]]'s
    * (spec-pinned). */
  def ivfTopKQuantized(spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame, queries: DataFrame, k: Int, nlist: Int = 16,
      nprobe: Int = 4, rerank: Int = 4, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      fitSampleLimit: Int = 100000): DataFrame = {
    require(rerank >= 1, "rerank >= 1")
    val centroids = kmeansCentroids(corpus, nlist, seed, idCol, vecCol,
      fitSampleLimit)
    searchInt8(encodeInt8(corpus, centroids, idCol, vecCol), centroids,
      corpus, queries, k, nprobe, rerank, idCol, vecCol)
  }

  /** Shared tail of the quantized ANN paths: per query the best
    * `rerank·k` candidates by approximate score survive (bounded-heap
    * [[graft.functions.TopKAgg]], map-side combined), and ONLY those are
    * re-scored with full-precision cosine against the original vectors.
    * Candidates+queries are BROADCAST, so the corpus side is only scanned
    * and hash-probed, never shuffled; the candidate set is ≤
    * |queries|·rerank·k rows by construction. `approx` must carry
    * (query_id, corpus_id, ascore). */
  private def rerankExact(corpus: DataFrame, queries: DataFrame,
      approx: DataFrame, k: Int, rerank: Int, idCol: String,
      vecCol: String): DataFrame = {
    val idType = corpus.schema(idCol).dataType
    val cands = approx.groupBy("query_id")
      .agg(graft.functions.TopKAgg(col("ascore"),
        col("corpus_id").cast("long"), rerank * k).as("tk"))
      .select(col("query_id"), explode(col("tk")).as("e"))
      .select(col("query_id"), col("e").getField("id").cast(idType)
        .as("corpus_id"))
    val candQ = cands.join(broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("q_vec"))), Seq("query_id"))
    val rescored = corpus
      .select(col(idCol).as("corpus_id"), col(vecCol).as("c_vec"))
      .join(broadcast(candQ), Seq("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos"))
    finalTopK(rescored, k)
  }

  // ------------------------------------------- IMI (two-level) coarse path

  /** Half-space codebooks for the inverted multi-index: ONE bounded
    * sample scan (the kmeansCentroids rationale), then two driver-local
    * Lloyd's fits over the vector halves. Cells are the cross product —
    * `kA·kB` cells from codebooks of size kA and kB. */
  private[graft] def imiCodebooks(corpus: DataFrame, kA: Int, kB: Int,
      seed: Long, vecCol: String = "embedding",
      fitSampleLimit: Int = 100000): (Array[Array[Double]], Array[Array[Double]]) = {
    val sample = sampleVectors(corpus, vecCol, fitSampleLimit, seed,
      "imiCodebooks")
    val h = sample(0).length / 2
    require(h >= 1, "imiCodebooks: need dim >= 2")
    (localKMeans(sample.map(_.take(h)), kA, seed),
      localKMeans(sample.map(_.drop(h)), kB, seed + 1))
  }

  /** Top-`n` IMI cells per row. The cell score IS the full-vector cosine
    * against the concatenated centroid — it decomposes over the halves:
    *
    *   cos(x, aᵢ ++ bⱼ) = (x₁·aᵢ + x₂·bⱼ) / (‖x‖ · √(‖aᵢ‖² + ‖bⱼ‖²))
    *
    * so scoring all kA·kB cells costs kA+kB HALF-dot products plus kA·kB
    * scalar combines, vs nlist·dim multiplies on the flat path: at
    * nlist = 10⁵ (kA = kB ≈ 316) and dim = 64, ~2 × 10⁴ multiplies vs
    * 6.4 × 10⁶ per row — the assignment-term fix the sf1 rehearsal notes
    * called for past ~10⁶ vectors. Same broadcast + mapPartitions shape
    * as [[maxCosToRef]] (zero shuffle, narrow over the scan);
    * cell_id = i·kB + j; ids must be integral (cast to long). Ties break
    * (score desc, cell_id asc) via [[BoundedTopN]]. */
  private[graft] def imiAssignTop(df: DataFrame, cbA: Array[Array[Double]],
      cbB: Array[Array[Double]], n: Int, idCol: String,
      vecCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val bcA = spark.sparkContext.broadcast(cbA)
    val bcB = spark.sparkContext.broadcast(cbB)
    val in = df.select(col(idCol).cast("long").as("corpus_id"),
      col(vecCol).cast("array<double>").as("c_vec"))
    val outSchema = StructType(Seq(
      StructField("cell_id", IntegerType, nullable = false),
      StructField("corpus_id", LongType),
      StructField("c_vec", ArrayType(DoubleType))))
    val rdd = in.rdd.mapPartitions { it =>
      val a = bcA.value; val b = bcB.value
      val kB = b.length
      val h = a(0).length
      // per-centroid squared norms, computed once per partition
      val na2 = a.map(c => { var s = 0.0; var i = 0
        while (i < c.length) { s += c(i) * c(i); i += 1 }; s })
      val nb2 = b.map(c => { var s = 0.0; var i = 0
        while (i < c.length) { s += c(i) * c(i); i += 1 }; s })
      it.flatMap { row =>
        if (row.isNullAt(1)) Iterator.empty
        else {
          val vec = row.getSeq[Double](1).toArray
          var nx = 0.0
          var i = 0
          while (i < vec.length) { nx += vec(i) * vec(i); i += 1 }
          val aDots = new Array[Double](a.length)
          i = 0
          while (i < a.length) {
            val c = a(i); var s = 0.0; var d = 0
            while (d < h && d < vec.length) { s += vec(d) * c(d); d += 1 }
            aDots(i) = s; i += 1
          }
          val bDots = new Array[Double](kB)
          var j = 0
          while (j < kB) {
            val c = b(j); var s = 0.0; var d = 0
            while (d < c.length && h + d < vec.length) {
              s += vec(h + d) * c(d); d += 1
            }
            bDots(j) = s; j += 1
          }
          val nxRoot = math.sqrt(nx)
          val heap = new BoundedTopN(math.min(n, a.length * kB))
          i = 0
          while (i < a.length) {
            var jj = 0
            while (jj < kB) {
              val nc2 = na2(i) + nb2(jj)
              val s =
                if (nx == 0.0 || nc2 == 0.0) 0.0
                else (aDots(i) + bDots(jj)) / (nxRoot * math.sqrt(nc2))
              heap.offer(s, i * kB + jj)
              jj += 1
            }
            i += 1
          }
          heap.drainIds().iterator.map(ci =>
            Row(ci, row.get(0), row.getSeq[Double](1)))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** IMI (inverted multi-index, Babenko & Lempitsky 2012) approximate
    * top-k: flat IVF with the coarse quantizer replaced by the two-level
    * cell grid — same inverted-list probe/score/TopK tail as [[ivfTopK]],
    * but `kA·kB` cells cost only kA+kB half-dots per row to rank, so the
    * cell count can track corpus growth (10⁴–10⁵ cells) without the
    * assignment term becoming the bottleneck. Deterministic (fixed
    * seed); integral ids (cast to long internally). */
  def imiTopK(spark: org.apache.spark.sql.SparkSession, corpus: DataFrame,
      queries: DataFrame, k: Int, kA: Int = 8, kB: Int = 8,
      nprobe: Int = 8, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding", fitSampleLimit: Int = 100000): DataFrame = {
    val (cbA, cbB) = imiCodebooks(corpus, kA, kB, seed, vecCol, fitSampleLimit)
    searchImi(imiAssignTop(corpus, cbA, cbB, 1, idCol, vecCol), cbA, cbB,
      queries, k, nprobe, idCol, vecCol)
  }

  /** IMI search over (cell_id, corpus_id, c_vec) lists — the top-1
    * [[imiAssignTop]] encode: each query ranks the kA·kB cells from kA+kB
    * half-dots, and its `nprobe` best cells are scored with exact cosine. */
  private[graft] def searchImi(lists: DataFrame, cbA: Array[Array[Double]],
      cbB: Array[Array[Double]], queries: DataFrame, k: Int, nprobe: Int,
      idCol: String, vecCol: String): DataFrame =
    scanExact(lists, imiAssignTop(queries, cbA, cbB, nprobe, idCol, vecCol)
      .select(col("cell_id"), col("corpus_id").as("query_id"),
        col("c_vec").as("q_vec")), "cell_id", k)

  // ------------------------------------------------ IVF-PQ (ADC) variant

  /** Product-quantization codebooks: the vector space is split into `m`
    * subspaces of width `dim/m`; each gets `codebookSize` k-means
    * centroids fit on a bounded sample of L2-NORMALIZED corpus vectors
    * (same rationale as [[kmeansCentroids]]: codebook quality saturates
    * far below corpus size — never a multi-pass O(corpus) fit). Returns
    * `cb(subspace)(code) = centroid`, `m × codebookSize × dim/m` doubles —
    * small enough to ride every executor inside the plan. */
  def pqCodebooks(corpus: DataFrame, dim: Int, m: Int, codebookSize: Int,
      seed: Long = 42L, vecCol: String = "embedding",
      fitSampleLimit: Int = 100000): Array[Array[Array[Double]]] = {
    // ONE bounded scan, collected: a PQ fit is a bounded-sample problem
    // (codebook quality saturates far below corpus size), and running it
    // as m distributed KMeans fits schedules ~m·maxIter tiny cluster jobs
    // for work a driver core does in milliseconds. The PQ codebooks fit on
    // L2-NORMALIZED vectors (the scan scores normalized codes) — the raw
    // pool is normalized DRIVER-side ([[l2NormalizeLocal]]) so multi-fit
    // queries can share one pool with the coarse fit.
    val sample = sampleVectors(corpus, vecCol, fitSampleLimit, seed,
      "pqCodebooks")
    pqCodebooksFromSample(sample.map(l2NormalizeLocal), dim, m,
      codebookSize, seed)
  }

  /** PQ codebooks from an already-drawn, already-NORMALIZED sample pool —
    * the shared-pool entry for multi-fit queries. */
  private def pqCodebooksFromSample(sampleNorm: Array[Array[Double]],
      dim: Int, m: Int, codebookSize: Int,
      seed: Long): Array[Array[Array[Double]]] = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    require(codebookSize >= 1, "codebookSize >= 1")
    val subdim = dim / m
    Array.tabulate(m) { mi =>
      localKMeans(sampleNorm.map(v => java.util.Arrays.copyOfRange(
        v, mi * subdim, (mi + 1) * subdim)), codebookSize, seed + mi)
    }
  }

  /** Deterministic driver-local Lloyd's k-means (the PQ codebook fit):
    * splitmix64-shuffled distinct-point init, `maxIter` assign/update
    * rounds, empty clusters reseeded to the point farthest from its
    * centroid. Fewer than k distinct points → duplicates pad (codes stay
    * valid argmins). */
  private def localKMeans(points: Array[Array[Double]], k: Int, seed: Long,
      maxIter: Int = 10): Array[Array[Double]] = {
    val n = points.length
    val d = points(0).length
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    // deterministic shuffle of indices, then first k pairwise-distinct
    // points (falling back to repeats when the sample has < k distinct)
    var z0 = seed
    def next(): Long = { z0 += 0x9e3779b97f4a7c15L
      var z = z0
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31) }
    val order = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = ((next() >>> 1) % (i + 1)).toInt
      val t = order(i); order(i) = order(j); order(j) = t
      i -= 1
    }
    val init = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    var oi = 0
    while (init.length < k && oi < n) {
      val p = points(order(oi))
      if (!init.exists(c => sq(c, p) == 0.0)) init += p.clone()
      oi += 1
    }
    while (init.length < k) init += init(0).clone()
    val centroids = init.toArray
    val assign = new Array[Int](n)
    var iter = 0
    while (iter < maxIter) {
      var p = 0
      while (p < n) {
        var best = 0; var bestD = sq(points(p), centroids(0)); var c = 1
        while (c < k) {
          val dd = sq(points(p), centroids(c))
          if (dd < bestD) { bestD = dd; best = c }
          c += 1
        }
        assign(p) = best
        p += 1
      }
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Int](k)
      p = 0
      while (p < n) {
        val c = assign(p); counts(c) += 1
        var j = 0
        while (j < d) { sums(c)(j) += points(p)(j); j += 1 }
        p += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var j = 0
          while (j < d) { centroids(c)(j) = sums(c)(j) / counts(c); j += 1 }
        } else {
          // reseed an empty cluster to the point farthest from its centroid
          var far = 0; var farD = -1.0; var q = 0
          while (q < n) {
            val dd = sq(points(q), centroids(assign(q)))
            if (dd > farD) { farD = dd; far = q }
            q += 1
          }
          centroids(c) = points(far).clone()
        }
        c += 1
      }
      iter += 1
    }
    centroids
  }

  /** PQ-encode an L2-normalized vector: per subspace the code of the
    * nearest codebook centroid — `argmin‖x−c‖² = argmax(x·c − ‖c‖²/2)`,
    * with `‖c‖²/2` folded in at plan-build time — as ONE compiled
    * [[graft.functions.PqEncode]] call per row that holds the codebooks
    * as one plan object: a SINGLE PROJECTION, zero shuffle, exactly the
    * [[assignToCentroids]] shape. Output `array<int>` of length `m`:
    * `m·log₂(codebookSize)` bits of storage per vector — at m=8,
    * codebookSize=256 that is 8 bytes against 256 for float64, the dial
    * that lets a 100 TB corpus' index live in executor memory. */
  def pqEncode(vec: Column, cb: Array[Array[Array[Double]]]): Column =
    graft.functions.PqEncode(vec, cb)

  /** Per-query ADC lookup table: `table(subspace)(code) = q_sub · c` —
    * `m × codebookSize` dots computed ONCE per query row (the tiny
    * broadcast side) by one [[graft.functions.PqAdcTable]] call, so
    * candidate scoring needs no dot products at all. */
  private def pqAdcTable(qvec: Column, cb: Array[Array[Array[Double]]]): Column =
    graft.functions.PqAdcTable(qvec, cb)

  /** IVF-PQ top-k with asymmetric-distance (ADC) scan and exact re-rank —
    * the index shape that fits a 100 TB corpus in memory: inverted lists
    * hold `m`-byte PQ codes instead of vectors (32× smaller than float32
    * at m=8/codebookSize=256), queries carry a precomputed `m ×
    * codebookSize` dot table, and a candidate's approximate score is `m`
    * ARRAY LOOKUPS (`Σ table(mi)(code(mi))` — `zip_with`+`get`), not a
    * dot product. Per query the best `rerank·k` approximate candidates
    * survive ([[rerankExact]]: bounded-heap TopKAgg, then full-precision
    * cosine over the broadcast candidate set — the corpus is never
    * shuffled). PQ error affects results only when a true top-k member
    * falls outside the top `rerank·k` ADC candidates; with
    * `nprobe = nlist` and `rerank·k ≥` corpus size the output is exactly
    * [[bruteForceTopK]]'s (spec-pinned). */
  def ivfTopKPQ(spark: org.apache.spark.sql.SparkSession, corpus: DataFrame,
      queries: DataFrame, k: Int, dim: Int, nlist: Int = 16,
      nprobe: Int = 4, m: Int = 8, codebookSize: Int = 16, rerank: Int = 4,
      seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding", fitSampleLimit: Int = 100000): DataFrame = {
    require(rerank >= 1, "rerank >= 1")
    // fail-fast duplicate of pqCodebooksFromSample's dial check: without
    // it an invalid m fails only AFTER the pool draw's corpus count +
    // sample collect (ADVICE r14)
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    // ONE shared sample pool for BOTH fits (coarse k-means in raw space,
    // PQ codebooks in normalized space — normalization is driver-local):
    // the per-fit pool draw cost a count + narrow corpus scan each, ×2
    // per query here, ×3 in the residual variant (VERDICT r12 #4).
    val pool = sampleVectors(corpus, vecCol, fitSampleLimit, seed,
      "ivfTopKPQ")
    val centroids = kmeansCentroidsFromSample(pool, nlist, seed)
    val cb = pqCodebooksFromSample(pool.map(l2NormalizeLocal), dim, m,
      codebookSize, seed)
    val cq = assignToCentroids(corpus, centroids, idCol, vecCol)
      .select(col("centroid_id"),
        col("corpus_id").cast("long").as("corpus_id"),
        pqEncode(l2Normalize(col("c_vec")), cb).as("codes"))
    val pq = probeCells(queries, centroids, nprobe, idCol, vecCol)
      .select(col("centroid_id"), col("query_id"),
        pqAdcTable(l2Normalize(col("q_vec")), cb).as("adc"))
    val approx = cq.join(broadcast(pq), Seq("centroid_id"))
      .select(col("query_id"), col("corpus_id"), adcSum.as("ascore"))
    rerankExact(corpus, queries, approx, k, rerank, idCol, vecCol)
  }

  /** A candidate's ADC score: `Σ adc(subspace)(codes(subspace))` — `m`
    * array lookups into the per-query table, no dot product. */
  private def adcSum: Column =
    aggregate(zip_with(col("adc"), col("codes"), (tm, cm) => get(tm, cm)),
      lit(0.0), (acc, x) => acc + x)

  /** RESIDUAL IVF-PQ (the FAISS-standard IVFADC shape): PQ codes encode
    * the residual `x̂ − c` of each (normalized) vector against its
    * assigned coarse centroid instead of the vector itself. The inner
    * product decomposes EXACTLY as `q·x̂ = q·c + q·(x̂−c)` — the first
    * term is computed full-precision per (query, probed cell) (one
    * `DotDouble` on the broadcast side), so PQ error touches only the
    * residual term. The win is proportional to how much structure the
    * cells capture: on CLUSTERED corpora (the case real embeddings are)
    * the residual is just intra-cluster noise and recall beats plain PQ
    * outright at the same code budget (RecallSpec: 0.66 vs 0.56 at
    * rerank 2 on an 8-cluster corpus); on uniform vectors — no coarse
    * structure — the two land within fit noise (spec pins parity). The
    * standard next step when PQ recall at a fixed code budget is the
    * bottleneck.
    * Mechanics: residual codebooks fit on a bounded sample
    * (driver-assigned with [[cosineLocal]], mirroring the distributed
    * argmax), corpus codes via [[encodeResidual]] ([[pqEncode]] on
    * `zip_with` residuals with the centroid attached from a broadcast
    * frame), then [[searchResidual]] — candidate score = centroid term +
    * `m` ADC lookups, then the shared [[rerankExact]] tail — the same
    * encode and search [[IndexStore]] runs. Zero corpus shuffle, same plan
    * skeleton as ivfTopKPQ. */
  def ivfTopKPQResidual(spark: org.apache.spark.sql.SparkSession,
      corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 8, codebookSize: Int = 16,
      rerank: Int = 4, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding", fitSampleLimit: Int = 100000): DataFrame = {
    require(rerank >= 1, "rerank >= 1")
    // fail-fast duplicate of fitResidualQuantizerFromPool's dial check,
    // BEFORE the pool draw's corpus-scale work (ADVICE r14)
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    // ONE shared sample pool for all three fit stages (coarse k-means,
    // normalized cell means, residual codebooks) — was three corpus
    // count+scan pairs per query (VERDICT r12 #4).
    val pool = sampleVectors(corpus, vecCol, fitSampleLimit, seed,
      "ivfTopKPQResidual")
    val rq = fitResidualQuantizerFromPool(pool, dim, nlist, m, codebookSize,
      seed)
    searchResidual(encodeResidual(corpus, rq, idCol, vecCol), rq, corpus,
      queries, k, nprobe, rerank, idCol, vecCol)
  }

  /** Fit the three IVFADC stages from an already-drawn sample pool —
    * coarse k-means (raw space), per-cell means of the NORMALIZED sample
    * members (the residual reference points — a residual against a raw
    * centroid can be LARGER than the vector itself, which would make
    * quantization worse, not better; the normalized cell mean minimizes
    * residual variance on the unit sphere), residual PQ codebooks.
    * Sample rows are assigned driver-side with the same arithmetic and
    * (sim desc, id asc) tie-break as the distributed path; a cell with no
    * sample members falls back to the zero vector — residual = x̂, i.e.
    * that cell degenerates to plain PQ instead of corrupting scores.
    * Returned as a [[ResidualQuantizer]] — the once-per-corpus artifact
    * [[IndexStore]] persists so per-query / per-batch runs never re-fit. */
  private[graft] def fitResidualQuantizerFromPool(pool: Array[Array[Double]],
      dim: Int, nlist: Int, m: Int, codebookSize: Int,
      seed: Long): ResidualQuantizer = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val centroids = kmeansCentroidsFromSample(pool, nlist, seed)
    val cents = centroids.map(_._2.toArray).toArray
    val sample = pool.map(l2NormalizeLocal)
    val assignedSample = sample.map { v =>
      var best = 0; var bestS = Double.NegativeInfinity
      var i = 0
      while (i < cents.length) {
        val s = cosineLocal(v, cents(i))
        if (s > bestS) { bestS = s; best = i }
        i += 1
      }
      (best, v)
    }
    val cellMeans = Array.fill(cents.length)(new Array[Double](dim))
    val cellCounts = new Array[Int](cents.length)
    assignedSample.foreach { case (ci, v) =>
      cellCounts(ci) += 1
      var j = 0
      while (j < dim) { cellMeans(ci)(j) += v(j); j += 1 }
    }
    cellMeans.indices.foreach { ci =>
      if (cellCounts(ci) > 0) {
        var j = 0
        while (j < dim) { cellMeans(ci)(j) /= cellCounts(ci); j += 1 }
      }
    }
    val residuals = assignedSample.map { case (ci, v) =>
      val c = cellMeans(ci)
      Array.tabulate(v.length)(j => v(j) - c(j))
    }
    val subdim = dim / m
    val cbRes = Array.tabulate(m) { mi =>
      localKMeans(residuals.map(v => java.util.Arrays.copyOfRange(
        v, mi * subdim, (mi + 1) * subdim)), codebookSize, seed + 101 + mi)
    }
    ResidualQuantizer(dim, nlist, m, codebookSize, centroids, cellMeans, cbRes)
  }

  /** [[fitResidualQuantizerFromPool]] drawing its own bounded uniform
    * sample — the public once-per-corpus fit entry for [[IndexStore]]. */
  def fitResidualQuantizer(corpus: DataFrame, dim: Int, nlist: Int = 16,
      m: Int = 8, codebookSize: Int = 16, seed: Long = 42L,
      vecCol: String = "embedding",
      fitSampleLimit: Int = 100000): ResidualQuantizer = {
    // fail-fast duplicate of fitResidualQuantizerFromPool's dial check,
    // BEFORE the pool draw's corpus-scale work (ADVICE r14)
    require(m >= 1 && dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val pool = sampleVectors(corpus, vecCol, fitSampleLimit, seed,
      "fitResidualQuantizer")
    fitResidualQuantizerFromPool(pool, dim, nlist, m, codebookSize, seed)
  }

  /** The quantizer's cell means as a broadcastable (centroid_id, __cent)
    * frame — attached to corpus rows for residual encoding and to probe
    * rows for the exact `q·c` centroid term. */
  private def cellMeanDf(rq: ResidualQuantizer,
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    rq.cellMeans.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("centroid_id", "__cent")
  }

  /** Encode a corpus (or an ingest batch) against a FITTED quantizer:
    * nearest-coarse-centroid assignment (single projection, zero
    * shuffle), then PQ codes of the normalized vector's residual against
    * its cell mean. Output (centroid_id, corpus_id, codes) — the m-byte
    * inverted-list rows [[IndexStore.appendCodes]] persists; encoding a
    * NEW batch needs only the quantizer artifact, never a re-fit and
    * never the already-indexed history. */
  private[graft] def encodeResidual(corpus: DataFrame, rq: ResidualQuantizer,
      idCol: String = "vec_id", vecCol: String = "embedding",
      carryCols: Seq[String] = Nil): DataFrame = {
    val assigned = assignToCentroids(corpus, rq.centroids, idCol, vecCol)
    val base = assigned.join(broadcast(cellMeanDf(rq, corpus.sparkSession)),
        Seq("centroid_id"))
      .select(col("centroid_id"),
        col("corpus_id").cast("long").as("corpus_id"),
        pqEncode(zip_with(l2Normalize(col("c_vec")), col("__cent"),
          (a, b) => a - b), rq.codebooks).as("codes"))
    // attribute-carrying index (the filtered-ANN shape): the filter
    // metadata rides IN the segments so a filtered scan never joins back
    // to the corpus — the join here is write-side, ∝ batch, paid once
    if (carryCols.isEmpty) base
    else base.join(
      corpus.select(col(idCol).cast("long").as("corpus_id") +:
        carryCols.map(col): _*), Seq("corpus_id"))
      .select((Seq("centroid_id", "corpus_id", "codes") ++ carryCols)
        .map(col): _*)
  }

  /** Residual IVF-PQ search over [[encodeResidual]] lists: per query the
    * nprobe nearest cells, a per-query ADC lookup table plus the exact
    * `q·c` centroid term (the residual decomposition `q·x̂ = q·c +
    * q·(x̂−c)`), candidate score = centroid term + m array lookups, then
    * the [[rerankExact]] tail against the raw `corpus` — the only place
    * full-precision vectors are touched. Probe side is broadcast; the
    * encoded side — the only corpus-scale frame — is scanned once, never
    * shuffled. */
  private[graft] def searchResidual(lists: DataFrame, rq: ResidualQuantizer,
      corpus: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
      rerank: Int, idCol: String, vecCol: String,
      matchCols: Seq[String] = Nil): DataFrame = {
    val probes = probeCells(queries, rq.centroids, nprobe, idCol, vecCol)
    val pq0 = probes.join(broadcast(cellMeanDf(rq, queries.sparkSession)),
        Seq("centroid_id"))
      .select(col("centroid_id"), col("query_id"),
        pqAdcTable(l2Normalize(col("q_vec")), rq.codebooks).as("adc"),
        graft.functions.DotDouble(l2Normalize(col("q_vec")), col("__cent"))
          .as("__qc"))
    // metadata-filtered search: the query's match values ride the (tiny)
    // broadcast side; `lists` must carry the same columns (the
    // attribute-carrying index, [[encodeResidual]]'s carryCols) so the
    // scan PRE-filters — rejected candidates never consume the rerank
    // budget and the corpus is never joined before the rerank tail
    val pq = if (matchCols.isEmpty) pq0
      else pq0.join(broadcast(queries.select(
        col(idCol).as("query_id") +:
          matchCols.map(c => col(c).as(s"__q_$c")): _*)), Seq("query_id"))
    val joined = lists.join(broadcast(pq), Seq("centroid_id"))
    val filtered = matchCols.foldLeft(joined) { (df, c) =>
      df.filter(col(c) <=> col(s"__q_$c"))
    }
    val approx = filtered.select(col("query_id"), col("corpus_id"),
      (col("__qc") + adcSum).as("ascore"))
    rerankExact(corpus, queries, approx, k, rerank, idCol, vecCol)
  }

  /** Embedding-cosine near-duplicate pairs (both sides the full corpus):
    * LSH-bucketed self-join, cosine ≥ threshold. `tables=L` unions the
    * buckets of L independent hyperplane families — the same recall lever
    * as in [[lshTopK]] (a true pair split across a plane in one family
    * rarely splits in all L); the final groupBy dedups cross-family hits.
    * Candidate pairs ≈ L × (corpus²/2^bits) — the cost dial at scale. */
  def nearDupPairs(corpus: DataFrame, threshold: Double, dim: Int,
      bits: Int = 8, seed: Long = 42L, tables: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol),
      explode(lshKeys(col(vecCol), dim, bits, seed, tables)).as("tb"))
    val a = c.select(col("tb"), col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = c.select(col("tb"), col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(b, Seq("tb")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("v_a"), col("v_b")), 6).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy("id_a", "id_b").agg(max("cos").as("cos"))
  }

  /** SemDeDup-style semantic near-duplicate pairs: k-means cells over the
    * embedding space (bounded-sample fit, shuffle-free top-`nprobe`-cell
    * assignment), then EXACT cosine pairs computed only WITHIN each cell,
    * deduped across cells. `nlist` is the cost dial: candidate pairs ≈
    * nprobe²·corpus²/(2·nlist) under balanced cells — at 100 TB, nlist in
    * the 10⁴–10⁵ range makes each cell's pair block a single-task-sized
    * unit while the cells themselves are embarrassingly parallel.
    * `nprobe > 1` (multi-assignment) is the recall lever: a near-dup pair
    * is missed only if the two members' nprobe-nearest-cell SETS are
    * disjoint, which for cosine ≥ threshold (≈1) pairs requires the pair
    * to straddle ≥ nprobe cell boundaries at once — the gated query
    * verifies the bound holds. Precision is exact by construction (every
    * emitted pair is full-precision cosine-checked). */
  def semanticDupPairs(corpus: DataFrame, threshold: Double,
      nlist: Int = 16, nprobe: Int = 2, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      fitSampleLimit: Int = 100000): DataFrame = {
    val centroids = kmeansCentroids(corpus, nlist, seed, idCol, vecCol,
      fitSampleLimit)
    val assigned = assignTopCentroids(corpus, centroids, nprobe, idCol, vecCol)
    val a = assigned.select(col("centroid_id"), col("corpus_id").as("id_a"),
      col("c_vec").as("v_a"))
    val b = assigned.select(col("centroid_id"), col("corpus_id").as("id_b"),
      col("c_vec").as("v_b"))
    a.join(b, Seq("centroid_id")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("v_a"), col("v_b")), 6).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy("id_a", "id_b").agg(max("cos").as("cos"))
  }

  /** Approximate k-NN GRAPH: every corpus vector's k nearest neighbors by
    * cosine — the precursor structure for SemDeDup-style cluster pruning,
    * graph-based diversity sampling, and agglomerative dedup. Same cell
    * decomposition as [[semanticDupPairs]] (bounded-sample k-means,
    * shuffle-free assignment), but ASYMMETRIC like [[ivfTopK]]: the
    * candidate side lives in its single nearest cell, the query side
    * probes its `nprobe` nearest cells, then the scale-safe two-phase
    * top-k per source ([[finalTopK]]: bounded-heap map-side partials, no
    * single-reducer window). Candidate edges ≈ nprobe·corpus²/nlist under
    * balanced cells; nlist is the cost dial exactly as in
    * [[semanticDupPairs]]. A true neighbor is missed only if its single
    * nearest cell is outside the source's nprobe probe set — s10 gates
    * mean recall@k against the brute-force twin in-query. */
  def knnGraph(corpus: DataFrame, k: Int, nlist: Int = 16, nprobe: Int = 2,
      seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding", fitSampleLimit: Int = 100000): DataFrame = {
    val centroids = kmeansCentroids(corpus, nlist, seed, idCol, vecCol,
      fitSampleLimit)
    // ASYMMETRIC assignment: the candidate (dst) side sits in its
    // `dstProbes` nearest cells (< nprobe), the query (src) side fans out
    // over all nprobe. Candidate edges ≈ nprobe·dstProbes·corpus²/nlist —
    // the pre-r12 form assigned BOTH sides to nprobe cells and paid the
    // full nprobe² multiplier. A fully-asymmetric dst=1 (the ivfTopK
    // shape) measured recall 0.59 at the RecallSpec dials — at the 0.6
    // gate edge; dst=2/src=4 halves the pair work and measures with
    // margin. A true neighbor is missed only if its dstProbes nearest
    // cells are ALL outside src's nprobe probe set — s10's in-query gate
    // verifies the bound holds.
    val dstProbes = math.min(2, nprobe)
    val a = assignTopCentroids(corpus, centroids, nprobe, idCol, vecCol)
      .select(col("centroid_id"), col("corpus_id").as("query_id"),
        col("c_vec").as("v_a"))
    val b = assignTopCentroids(corpus, centroids, dstProbes, idCol, vecCol)
      .select(col("centroid_id"), col("corpus_id"), col("c_vec").as("v_b"))
    val scored = a.join(b, Seq("centroid_id"))
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        round(cosine(col("v_a"), col("v_b")), 6).as("cos"))
      // a pair sharing up to dstProbes cells scores identically in each:
      // dedup before the heap so duplicates can't crowd out real neighbors
      .groupBy("query_id", "corpus_id").agg(max("cos").as("cos"))
    finalTopK(scored, k)
      .select(col("query_id").as("src"), col("corpus_id").as("dst"),
        col("cos"), col("rank"))
  }

  /** Historical embedding store for incremental SEMANTIC near-dup — the
    * embedding-space sibling of [[graft.llm.Dedup.nearDupStore]]: returns
    * `(banded, vectors)` where `banded` is one (table, bucket) row per
    * vector per hyperplane family (the LSH probe index) and `vectors` is
    * `(sid, s_vec)` for the exact cosine verify. Both are NARROW
    * projections of the corpus (ids + buckets; ids + vectors); in a
    * production ingest loop they are materialized tables appended per
    * batch, so their cost is paid once per corpus, not per probe. */
  def embeddingStore(corpus: DataFrame, dim: Int, bits: Int = 8,
      tables: Int = 2, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    val banded = corpus.select(col(idCol).as("sid"),
      explode(lshKeys(col(vecCol), dim, bits, seed, tables)).as("tb"))
    val vecs = corpus.select(col(idCol).as("sid"),
      col(vecCol).cast("array<double>").as("s_vec"))
    (banded, vecs)
  }

  /** Incremental SEMANTIC near-dup of an ingest batch against a
    * historical [[embeddingStore]] — the embedding sibling of
    * [[graft.llm.Dedup.incrementalNearDup]], completing the incremental
    * family (exact fp / MinHash text / embedding cosine). Candidate
    * (batch, store) pairs come ONLY from matching (table, bucket) in any
    * of the L hyperplane families (the s04 recall lever: a true pair
    * split by one family's plane rarely splits in all L) and are
    * DEDUPLICATED across families before any vector-width work; every
    * candidate is then verified with full-precision cosine ≥ `threshold`
    * — precision is exact by construction, recall carries the LSH bound.
    * Shuffle ∝ batch buckets + probed candidates; the store sides are
    * scanned narrow (never shuffled, never rescanned as raw corpus).
    * `bits` is THE cost dial: candidates ≈ tables·|batch|·|store|/2^bits,
    * so size it with the store (2^bits ≳ store/10³) — the sf10 rehearsal
    * measured bits=8 going 42× super-linear on a 2 M-vector store where
    * bits=12 stays linear-ish; for near-identical duplicates extra planes
    * are recall-neutral (a plane flips only if it splits the pair).
    * Returns one row per batch ROW: (idCol, is_dup, best_cos — NULL when
    * no candidate reached the threshold). */
  def incrementalEmbeddingNearDup(batch: DataFrame,
      store: (DataFrame, DataFrame), threshold: Double, dim: Int,
      bits: Int = 8, tables: Int = 2, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (storeBanded, storeVecs) = store
    // cheap narrow projection — re-derived (at most twice) rather than
    // persisted; the expensive side (the store) is probed, not rebuilt
    val bvec = batch.select(col(idCol),
      col(vecCol).cast("array<double>").as("__bv"))
    val banded = bvec.select(col(idCol),
      explode(lshKeys(col("__bv"), dim, bits, seed, tables)).as("tb"))
    val cand = banded.join(storeBanded, Seq("tb"))
      .select(col(idCol), col("sid")).distinct()
    val hits = cand
      .join(bvec, Seq(idCol))
      .join(storeVecs, Seq("sid"))
      .select(col(idCol), cosine(col("__bv"), col("s_vec")).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col(idCol)).agg(max("cos").as("best_cos"))
    batch.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("best_cos").isNotNull.as("is_dup"),
        round(col("best_cos"), 6).as("best_cos"))
  }

  /** Exact near-duplicate pairs (quadratic — oracle/verification sizes only). */
  def nearDupPairsExact(corpus: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = corpus.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("v_a"), col("v_b")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Metadata-FILTERED top-k — "nearest neighbors among rows matching
    * the query's attribute" (same-language retrieval, same-source dedup
    * probes, tenant isolation): candidates come from a HASH JOIN on the
    * filter column, so each query scores only its bucket
    * (corpus/|distinct values| rows under uniform buckets), never the
    * full corpus — the pre-filter shape, exact by construction (no
    * recall gate; post-filtering an unfiltered ANN result instead can
    * return < k rows when the filter is selective). Queries broadcast
    * (small side); the final rank is the shared two-phase bounded-heap
    * [[finalTopK]]. For big buckets compose with the ANN paths — the
    * filter pushes below [[assignToCentroids]] so inverted lists are
    * built per filtered slice. Returns (query_id, corpus_id, cos,
    * rank). */
  def filteredTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      filterCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"), col(filterCol)))
    val c = corpus.select(col(idCol).as("corpus_id"),
      col(vecCol).as("c_vec"), col(filterCol))
    val scored = c.join(q, Seq(filterCol))
      .select(col("query_id"), col("corpus_id"),
        round(cosine(col("q_vec"), col("c_vec")), 6).as("cos"))
    finalTopK(scored, k)
  }

  /** Public nearest-centroid assignment over an explicit centroid set —
    * the [[assignToCentroids]] kernel (one compiled
    * [[graft.functions.CentroidTopN]] projection at every nlist): ZERO
    * shuffle between the corpus scan and the consumer, tie-break
    * (sim desc, centroid_id asc). Returns (centroid_id, corpus_id,
    * c_vec) — the front half of cluster-balanced sampling
    * ([[Sampling.clusterBalancedSample]]) and any caller that brings its
    * own codebook instead of the in-query k-means fit. */
  def nearestCentroids(corpus: DataFrame,
      centroids: Seq[(Int, Seq[Double])], idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    assignToCentroids(corpus, centroids, idCol, vecCol)

  /** Hard cap on a collected reference set (semantic decontamination's
    * eval side): 200k × 64-dim doubles ≈ 100 MB broadcast — the same
    * bounded-small-side contract as [[Dedup.bloomDecontaminate]]'s eval
    * collapse. Reference sets beyond it should go through the ANN paths
    * ([[imiTopK]] / [[ivfTopK]] with the ref as corpus) instead of a
    * dense scan per row. */
  val RefSetCap = 200000

  /** Max cosine of every corpus row to ANY vector of a bounded reference
    * set — the kernel of embedding-space decontamination. The reference
    * set is collected under a FAIL-LOUD [[RefSetCap]] (eval benchmarks
    * are small by nature; a silently truncated ref set would silently
    * under-drop) and rides a broadcast variable; the per-row max runs in
    * one `mapPartitions` pass over the corpus scan — ZERO shuffle, exact
    * (no recall gate needed), cost |ref|·dim multiplies per row. Same
    * justified-mapPartitions shape as [[imiAssignTop]]: a reference set
    * of up to [[RefSetCap]] vectors (≈ 100 MB) rides a broadcast
    * variable, not the task-serialized plan. Tie-break (cos desc, ref_id
    * asc). Returns one row
    * per corpus row: (idCol, max_cos, nearest_ref_id) — null-vector rows
    * surface with NULL max_cos so callers can't silently lose them.
    * Dimensions are loud: a mixed-dimension reference set fails on the
    * driver, and a corpus vector whose dimension differs from the
    * reference set's fails its task — both dimensions in the message,
    * never a shorter-prefix score. */
  def maxCosToRef(corpus: DataFrame, ref: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.Row
    val spark = corpus.sparkSession
    val refRows = ref
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .limit(RefSetCap + 1)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(refRows.length <= RefSetCap,
      s"maxCosToRef: reference set exceeds RefSetCap=$RefSetCap — " +
        "use an ANN path (imiTopK/ivfTopK) for large reference corpora")
    require(refRows.nonEmpty, "maxCosToRef: empty reference set")
    val dim = refRows.head._2.length
    refRows.find(_._2.length != dim).foreach { case (id, v) =>
      throw new IllegalArgumentException(s"maxCosToRef: reference vector " +
        s"$id has dimension ${v.length} but the reference set has dimension $dim")
    }
    val bc = spark.sparkContext.broadcast(refRows)
    val in = corpus.select(col(idCol).cast("long").as("__id"),
      col(vecCol).cast("array<double>").as("__vec"))
    val outSchema = StructType(Seq(
      StructField("__id", LongType),
      StructField("max_cos", DoubleType),
      StructField("nearest_ref_id", LongType)))
    val rdd = in.rdd.mapPartitions { it =>
      val refs = bc.value
      it.map { row =>
        if (row.isNullAt(1)) Row(row.get(0), null, null)
        else {
          val vec = row.getSeq[Double](1).toArray
          if (vec.length != dim) throw new IllegalArgumentException(
            s"maxCosToRef: corpus vector ${row.get(0)} has dimension " +
              s"${vec.length} but the reference set has dimension $dim")
          var best = Double.NegativeInfinity
          var bestId = Long.MaxValue
          var j = 0
          while (j < refs.length) {
            val s = cosineLocal(vec, refs(j)._2)
            if (s > best || (s == best && refs(j)._1 < bestId)) {
              best = s; bestId = refs(j)._1
            }
            j += 1
          }
          Row(row.get(0), best, bestId)
        }
      }
    }
    val idType = corpus.schema(idCol).dataType
    spark.createDataFrame(rdd, outSchema)
      .select(col("__id").cast(idType).as(idCol), col("max_cos"),
        col("nearest_ref_id"))
  }

  /** Embedding-space decontamination: flag every corpus row whose max
    * cosine to the eval/reference set reaches `threshold` — the semantic
    * sibling of [[Dedup.decontaminate]] (n-gram containment) for leaks
    * that survive paraphrase. One [[maxCosToRef]] pass (zero shuffle,
    * exact); returns (idCol, max_cos, nearest_ref_id, is_contaminated)
    * for EVERY corpus row, null-vector rows uncontaminated by
    * convention. */
  def semanticDecontaminate(corpus: DataFrame, ref: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    maxCosToRef(corpus, ref, idCol, vecCol)
      .select(col(idCol), col("max_cos"), col("nearest_ref_id"),
        (col("max_cos").isNotNull && col("max_cos") >= threshold)
          .as("is_contaminated"))
}
