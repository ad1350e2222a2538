package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{Path => HPath}

import graft.llm.Similarity.ResidualQuantizer

/** Durable ANN index artifacts — the FAISS index discipline on Spark.
  *
  * Every IVF-family query used to re-fit its k-means centroids and PQ
  * codebooks from a corpus sample ON EVERY RUN. At 100 TB the fitted
  * quantizer is a once-per-corpus artifact: `train` once, persist, and
  * every later query — and every ingest batch — LOADS it instead of
  * re-fitting (fit drift between runs also disappears: two sessions
  * searching the same store score against identical codebooks).
  *
  * Two halves, two lifecycles:
  *
  *  - **Artifact** (`<root>/<family>/artifact`): the fit product, a
  *    one-shot immutable artifact of kilobytes — for the residual family
  *    (`quantizer/`) nlist coarse centroids, nlist cell means and
  *    m·codebookSize residual codebook rows. Every family writes it as
  *    ONE tagged (kind, i, j, vec) frame ([[commitArtifact]]) and reads
  *    it back through ONE decoder path with its meta-row and count
  *    checks ([[loadArtifact]], cached per root). Staged into a PRIVATE
  *    per-attempt directory and published by
  *    [[graft.exec.Publish.dirOnce]] (see [[saveQuantizer]]); replayed and
  *    racing saves are no-ops that converge on the committed artifact.
  *  - **Codes** (`<root>/codes/…`): append-only encoded inverted-list
  *    segments managed by [[DedupStore.append]]/[[DedupStore.read]]
  *    verbatim (same markers, same compaction lease, same replay
  *    idempotency). Indexing a NEW batch = encode against the loaded
  *    artifact + append ONE segment: cost ∝ batch, history never
  *    re-encoded, never rescanned.
  *
  * One code path per family: a store is the persisted half of
  * [[Similarity]]'s fit → encode → search. `train*` persists the fit;
  * `append*` runs the family's Similarity encode on the batch
  * (`assignToCentroids` flat, `encodeInt8`, top-1 `imiAssignTop`,
  * `encodeResidual`); `searchTopK*` runs the family's Similarity search
  * (`searchFlat`, `searchInt8`, `searchImi`, `searchResidual`) over
  * [[readCodes]]. A store search and the fit-per-query search at the
  * same dials and seed are the same search over the same lists.
  *
  * The residual store holds codes, never raw vectors: full-precision
  * vectors stay in the source-of-truth corpus table, touched only by the
  * exact re-rank tail over the rerank·k ADC survivors per query. At
  * m=8 / codebookSize=256 the persisted index is ~8 bytes + ids per
  * vector — the dial that keeps a 100 TB corpus' index within executor
  * memory.
  *
  * Staleness contract: the quantizer is fit ONCE (on the corpus snapshot
  * available at train time) and deliberately NOT refit as batches
  * arrive — IVF cells degrade gracefully under distribution drift
  * (recall, not correctness, decays; the exact re-rank tail keeps
  * precision exact), which is the standard production trade
  * (s16 gates recall with the quantizer fit on HALF the corpus). A
  * refit is an explicit new store, never an in-place mutation.
  */
object IndexStore {

  private def fs(spark: SparkSession, root: String) =
    new HPath(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def codesRoot(root: String) = s"$root/codes"

  /** The artifact families a store root can hold, by directory name: the
    * residual-PQ quantizer, the IVF coarse centroids (flat and int8
    * stores), the IMI half-space codebooks. A family's directory can ONLY
    * appear via [[commitArtifact]]'s atomic whole-directory publish, so
    * its existence IS the commit — there is no observable partial
    * state. */
  private val Families = Seq("quantizer", "ivf", "imi")

  private def committed(spark: SparkSession, root: String,
      family: String): Boolean =
    fs(spark, root).exists(new HPath(root, family))

  /** The family whose artifact is committed under `root`, if any. */
  private def committedFamily(spark: SparkSession,
      root: String): Option[String] =
    Families.find(committed(spark, root, _))

  /** True when a committed quantizer artifact exists under `root`. */
  def quantizerCommitted(spark: SparkSession, root: String): Boolean =
    committed(spark, root, "quantizer")

  /** Persist a fitted quantizer under `root`. Returns true if THIS call
    * committed it, false when one was already committed (replay — store
    * unchanged; the caller's quantizer is NOT compared: a store has one
    * immutable quantizer by contract, refits go to a new root).
    *
    * Commit protocol: every attempt writes into its own PRIVATE staging
    * directory (`.quantizer-tmp-<uuid>`) and publishes it as `quantizer/`
    * with [[graft.exec.Publish.dirOnce]]: first directory wins, decided
    * by a token, since a rename onto an existing directory nests and
    * returns true. A marker over a SHARED data directory is not enough:
    * two racing trainers hold DIFFERENT fits, and overwrite-mode writes
    * into one directory delete each other's in-flight task files
    * (IndexStoreSpec's four-trainer race caught exactly that). A loser
    * discards its staging and loads the winner's artifact, so every
    * concurrent trainer converges on the ONE committed quantizer; a crash
    * mid-save leaves only inert private staging debris. */
  def saveQuantizer(spark: SparkSession, root: String,
      rq: ResidualQuantizer): Boolean =
    commitArtifact(spark, root, "quantizer",
      Seq(("meta", rq.dim, rq.nlist,
        Seq(rq.m.toDouble, rq.codebookSize.toDouble))) ++
      rq.centroids.map { case (i, v) => ("centroid", i, 0, v) } ++
      rq.cellMeans.toSeq.zipWithIndex.map { case (v, i) =>
        ("cellmean", i, 0, v.toSeq) } ++
      rq.codebooks.toSeq.zipWithIndex.flatMap { case (cb, mi) =>
        cb.toSeq.zipWithIndex.map { case (c, j) =>
          ("codebook", mi, j, c.toSeq) }
      })

  /** The write half of the one artifact codec, under the rename-as-commit
    * protocol every family shares: the fit product is ONE tagged
    * (kind, i, j, vec) frame — one write job; meta rides as a "meta" row
    * — staged privately and published by [[graft.exec.Publish.dirOnce]].
    * Returns true iff THIS attempt's staging became the committed
    * artifact. */
  private def commitArtifact(spark: SparkSession, root: String,
      family: String, rows: Seq[(String, Int, Int, Seq[Double])]): Boolean = {
    import spark.implicits._
    val f = fs(spark, root)
    val dst = new HPath(root, family)
    if (f.exists(dst)) return false
    val stage = graft.exec.Publish.staging(dst)
    rows.toDF("kind", "i", "j", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$stage/artifact")
    graft.exec.Publish.dirOnce(f, stage, dst)
  }

  /** Per-root cache of loaded artifacts, keyed by the committed
    * directory. Artifacts are IMMUTABLE by contract (a refit is a new
    * root, never an in-place mutation), so caching by path is safe;
    * SoftReference lets the JVM reclaim entries under memory pressure
    * (each is kilobytes, but a long-lived session may touch many roots).
    * Cuts the per-call reload out of hot loops like the streaming
    * ingest, which calls [[appendCodes]] once per microbatch. */
  private val artifactCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.lang.ref.SoftReference[AnyRef]]()

  private def cached[A <: AnyRef](spark: SparkSession, root: String,
      family: String)(load: => A): A = {
    val key = fs(spark, root).makeQualified(new HPath(root, family)).toString
    Option(artifactCache.get(key)).flatMap(r => Option(r.get)) match {
      case Some(a) => a.asInstanceOf[A]
      case None =>
        val a = load
        artifactCache.put(key, new java.lang.ref.SoftReference[AnyRef](a))
        a
    }
  }

  /** A committed artifact's tagged rows, with the corruption check every
    * family's decoder shares. */
  private final class Artifact(root: String, family: String,
      rows: Array[Row]) {
    def check(ok: Boolean, what: => String): Unit =
      if (!ok) throw new IllegalStateException(
        s"IndexStore at $root: $family artifact is corrupt — $what")
    val meta: Row = {
      val m = rows.find(_.getString(0) == "meta")
      check(m.isDefined, "no meta row")
      m.get
    }
    private def of(kind: String) = rows.filter(_.getString(0) == kind)
    /** `kind` rows as (i, vec), ascending i. */
    def vectors(kind: String): Array[(Int, Array[Double])] =
      of(kind).map(r => (r.getInt(1), r.getSeq[Double](3).toArray))
        .sortBy(_._1)
    /** `kind` rows as (i, j) → vec. */
    def grid(kind: String): Map[(Int, Int), Array[Double]] =
      of(kind).map(r => ((r.getInt(1), r.getInt(2)),
        r.getSeq[Double](3).toArray)).toMap
  }

  /** The read half of the one artifact codec: the commit check, the
    * per-root cache, and on a miss ONE read+collect of the tagged frame
    * (kilobytes by construction), decoded by `decode`. A committed family
    * directory without its `artifact/` frame fails loud, naming the root
    * and the family. */
  private def loadArtifact[A <: AnyRef](spark: SparkSession, root: String,
      family: String, trainWith: String)(decode: Artifact => A): A = {
    require(committed(spark, root, family),
      s"IndexStore at $root has no committed $family artifact — run $trainWith")
    cached(spark, root, family) {
      val frame = new HPath(new HPath(root, family), "artifact")
      if (!fs(spark, root).exists(frame)) throw new IllegalStateException(
        s"IndexStore at $root: the committed $family directory has no " +
          "artifact/ frame (an unreadable layout or a damaged store) — " +
          "retrain into a new root")
      decode(new Artifact(root, family, spark.read.parquet(frame.toString)
        .select(col("kind"), col("i"), col("j"), col("vec")).collect()))
    }
  }

  /** Load the committed quantizer: nlist + nlist + m·codebookSize rows of
    * dim-width vectors, cached per root. */
  def loadQuantizer(spark: SparkSession, root: String): ResidualQuantizer =
    loadArtifact(spark, root, "quantizer", "train/saveQuantizer") { a =>
      val (dim, nlist) = (a.meta.getInt(1), a.meta.getInt(2))
      val mc = a.meta.getSeq[Double](3)
      val (m, cbs) = (mc(0).toInt, mc(1).toInt)
      val cents = a.vectors("centroid")
      val means = a.vectors("cellmean")
      a.check(cents.length == nlist && means.length == nlist,
        s"${cents.length} centroids / ${means.length} cell means vs nlist=$nlist")
      val cb = a.grid("codebook")
      a.check(cb.size == m * cbs,
        s"${cb.size} codebook rows vs m·codebookSize=${m * cbs}")
      ResidualQuantizer(dim, nlist, m, cbs,
        cents.map { case (i, v) => (i, v.toSeq) }.toSeq,
        means.map(_._2),
        Array.tabulate(m)(mi => Array.tabulate(cbs)(j => cb((mi, j)))))
    }

  /** Fit a quantizer on `corpus` and persist it — the `train` step, run
    * ONCE per store. Replay-idempotent: an already-committed store wins
    * and the fresh fit is discarded. Returns the quantizer that is now
    * committed (the loaded one on replay, so concurrent trainers converge
    * on identical codebooks). */
  def train(spark: SparkSession, root: String, corpus: DataFrame, dim: Int,
      nlist: Int = 16, m: Int = 8, codebookSize: Int = 16,
      seed: Long = 42L, vecCol: String = "embedding",
      fitSampleLimit: Int = 100000): ResidualQuantizer = {
    if (quantizerCommitted(spark, root)) return loadQuantizer(spark, root)
    val rq = Similarity.fitResidualQuantizer(corpus, dim, nlist, m,
      codebookSize, seed, vecCol, fitSampleLimit)
    if (saveQuantizer(spark, root, rq)) rq else loadQuantizer(spark, root)
  }

  /** Encode one ingest batch against the COMMITTED quantizer and append
    * it as inverted-list segment `batchId`. No fit, no history read:
    * cost ∝ batch. `carryCols` lands filter metadata IN the segment (the
    * attribute-carrying index a filtered search needs — see
    * [[searchTopK]]'s matchCols; every segment of a store must carry the
    * same columns). Returns [[DedupStore.append]]'s replay contract
    * (false = batchId already committed, store unchanged). */
  def appendCodes(spark: SparkSession, root: String, batchId: Long,
      batch: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", carryCols: Seq[String] = Nil): Boolean = {
    val rq = loadQuantizer(spark, root)
    DedupStore.append(spark, codesRoot(root), batchId,
      Similarity.encodeResidual(batch, rq, idCol, vecCol, carryCols))
  }

  /** Append rows ALREADY encoded against this store's committed quantizer
    * — the encode-once seam (r19, guide §1: "share the encode slab across
    * legs"): a lifecycle that lands the same encoded batch in several
    * sibling stores (a live store and its as-of twin, a shard and its
    * merge source) or splits one encoded corpus into per-batch segments
    * pays the encode (assignment + PQ scan over the batch) ONCE and
    * reuses the slab. The caller owns the contract that `codes` really is
    * [[Similarity.encodeResidual]] output under THIS root's artifact —
    * same schema, same codebooks (sibling stores created via
    * [[saveQuantizer]] of one fit qualify by construction). Replay
    * contract = [[DedupStore.append]]'s. */
  def appendEncoded(spark: SparkSession, root: String, batchId: Long,
      codes: DataFrame): Boolean = {
    require(quantizerCommitted(spark, root),
      s"IndexStore at $root has no committed quantizer — appendEncoded " +
        "needs the artifact the codes were encoded against")
    DedupStore.append(spark, codesRoot(root), batchId, codes)
  }

  /** Commit `batchId` as a ledger entry with no rows
    * ([[DedupStore.markCommitted]]) — the replay-marker move a rotation
    * uses for a batch whose content lives in the fold, so its replay
    * no-ops. No Spark job. Returns false on replay. */
  def markBatchCommitted(spark: SparkSession, root: String,
      batchId: Long): Boolean =
    DedupStore.markCommitted(spark, codesRoot(root), Seq(batchId)).nonEmpty

  /** All committed inverted-list segments as one (centroid_id, corpus_id,
    * codes) frame. */
  def readCodes(spark: SparkSession, root: String): DataFrame =
    DedupStore.read(spark, codesRoot(root))

  /** Sweep crashed trainers' staging debris: [[graft.exec.Publish]]
    * staging directories older than `minAgeMs` (age-gated so a LIVE
    * trainer's in-flight staging is never swept; the default floor is 30
    * min), at the root (a crash before the publish) and nested INSIDE a
    * committed artifact dir (a race loser that crashed before its own
    * sweep). Returns the swept paths. Debris is inert either way — this
    * is disk hygiene, not correctness. */
  def recoverStaging(spark: SparkSession, root: String,
      minAgeMs: Long = 30L * 60 * 1000): Seq[String] = {
    val f = fs(spark, root)
    val rootPath = new HPath(root)
    if (!f.exists(rootPath)) return Nil
    val now = System.currentTimeMillis()
    def debris(st: org.apache.hadoop.fs.FileStatus): Boolean =
      st.isDirectory && graft.exec.Publish.isStaging(st.getPath.getName) &&
        now - st.getModificationTime >= minAgeMs
    val top = f.listStatus(rootPath).toSeq
    val committedDirs = top.filter(st => st.isDirectory
      && !st.getPath.getName.startsWith("."))
    val nested = committedDirs.flatMap(d => f.listStatus(d.getPath).toSeq)
    (top ++ nested).filter(debris)
      .map { st => f.delete(st.getPath, true); st.getPath.toString }
  }

  /** Fold the code segments into one ([[DedupStore.compact]]: same
    * lease, same crash contract, same replay ledger — folded batch ids
    * stay committed, so a replayed stream batch no-ops): a long-running
    * ingest accumulates one segment per batch, and scan cost grows with
    * file count even when total rows don't. Search results are unchanged
    * by construction (the scan is a union of segments either way —
    * IndexStoreSpec pins it). Returns the merged segment's id. */
  def compactCodes(spark: SparkSession, root: String,
      upToIngest: Option[Long] = None): Long =
    DedupStore.compact(spark, codesRoot(root), upToIngest)

  /** Per-cell occupancy of the stored index — the denominator of the
    * staleness question this store's train-once contract raises: coarse
    * cells were placed for the corpus AS OF train time, and the way they
    * degrade under distribution drift is new batches crowding into few
    * cells (recall decays there). One map-side grouped count over the
    * narrow codes scan. For a tested retrain SIGNAL, feed the row-level
    * assignments — [[readCodes]] vs a candidate batch's
    * [[Similarity.encodeResidual]] — to
    * [[graft.exec.DataTests.driftChi2]] with centroid_id as the category
    * (dt07 gates exactly that). */
  def cellOccupancy(spark: SparkSession, root: String): DataFrame =
    readCodes(spark, root).groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n"))

  /** Top-k cosine search over the PERSISTED index: load the quantizer
    * (kilobytes) and run [[Similarity.searchResidual]] — the search
    * [[Similarity.ivfTopKPQResidual]] runs over its in-query encode — on
    * the committed code segments: ADC-score the probed cells,
    * exact-re-rank the rerank·k survivors against the raw `corpus` (the
    * source-of-truth vector table — the store itself never holds
    * vectors). ZERO fit jobs, zero corpus-side encode: the corpus-scale
    * work is one narrow scan of the code segments plus the
    * candidate-sized re-rank.
    *
    * `matchCols`: metadata-FILTERED search (same-language / same-tenant
    * retrieval) — each query's neighbors come only from indexed vectors
    * agreeing with it on these columns. Requires the store's segments to
    * carry them ([[appendCodes]] carryCols). PRE-filter semantics: the
    * scan drops non-matching candidates before the rerank budget, so the
    * k survivors are the best of the FILTERED pool, and the corpus is
    * never joined ahead of the rerank tail. */
  def searchTopK(spark: SparkSession, root: String, corpus: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int = 4, rerank: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      matchCols: Seq[String] = Nil,
      asOfBatch: Long = Long.MaxValue): DataFrame = {
    require(rerank >= 1, "rerank >= 1")
    val rq = loadQuantizer(spark, root)
    // `asOfBatch`: TIME-TRAVEL search — score only segments committed at
    // or before that ingest ([[DedupStore.readAsOf]]'s contract, including
    // its loud refusal when compaction collapsed the requested point).
    // "Re-run yesterday's eval against yesterday's index, exactly" — the
    // quantizer needs no as-of (immutable per root by contract). The
    // default reads the live store.
    val codes =
      if (asOfBatch == Long.MaxValue) readCodes(spark, root)
      else DedupStore.readAsOf(spark, codesRoot(root), asOfBatch)
    Similarity.searchResidual(codes, rq, corpus, queries, k, nprobe, rerank,
      idCol, vecCol, matchCols)
  }

  // ---------------------------------- persisted IVF-Flat / int8 / IMI stores

  /** The remaining ANN families' fit products, persisted under the same
    * rename-as-commit protocol and tagged-frame codec as the residual
    * quantizer, so NO family re-fits per query or per ingest batch:
    *
    *  - **IVF artifact** (`<root>/ivf/`): the coarse centroids alone —
    *    shared by the FLAT store (segments carry raw vectors, FAISS
    *    IndexIVFFlat's layout: exact in-scan scores, no re-rank needed;
    *    the simplest store, 8·dim bytes per vector) and the INT8 store
    *    (segments carry per-vector scale + int8 codes, FAISS
    *    IndexIVFScalarQuantizer: 4× less scan traffic than float32, 8×
    *    than float64, exact re-rank tail — the memory-bandwidth shape).
    *  - **IMI artifact** (`<root>/imi/`): the two half-space codebooks —
    *    segments carry raw vectors per CELL (kA·kB cells ranked from
    *    kA+kB half-dots per probe, the coarse layer that scales to 10⁵
    *    cells).
    *
    * Segments ride [[DedupStore.append]] exactly like the residual codes
    * (markers, lease, compaction, replay), and every search leg runs ZERO
    * fit jobs: the artifact loads back as a bounded collect (cached per
    * root — immutable by the same contract), query assignment is a
    * projection / broadcast kernel, and the corpus-scale work is one
    * narrow segment scan. */
  final case class IvfArtifact(dim: Int, nlist: Int,
      centroids: Seq[(Int, Seq[Double])])

  final case class ImiArtifact(dim: Int,
      cbA: Array[Array[Double]], cbB: Array[Array[Double]])

  /** Persist fitted coarse centroids (the IVF-Flat / int8 families' whole
    * fit product). Same replay/race contract as [[saveQuantizer]]. */
  def saveIvf(spark: SparkSession, root: String, art: IvfArtifact): Boolean =
    commitArtifact(spark, root, "ivf",
      Seq(("meta", art.dim, art.nlist, Seq.empty[Double])) ++
        art.centroids.map { case (i, v) => ("centroid", i, 0, v) })

  def loadIvf(spark: SparkSession, root: String): IvfArtifact =
    loadArtifact(spark, root, "ivf", "trainIvf") { a =>
      val (dim, nlist) = (a.meta.getInt(1), a.meta.getInt(2))
      val cents = a.vectors("centroid")
      a.check(cents.length == nlist,
        s"${cents.length} centroids vs nlist=$nlist")
      IvfArtifact(dim, nlist, cents.map { case (i, v) => (i, v.toSeq) }.toSeq)
    }

  /** Fit coarse centroids on `corpus` and persist them — run ONCE per
    * store; replays load the committed artifact. */
  def trainIvf(spark: SparkSession, root: String, corpus: DataFrame,
      dim: Int, nlist: Int = 16, seed: Long = 42L,
      vecCol: String = "embedding",
      fitSampleLimit: Int = 100000): IvfArtifact = {
    if (committed(spark, root, "ivf")) return loadIvf(spark, root)
    val art = IvfArtifact(dim, nlist,
      Similarity.kmeansCentroids(corpus, nlist, seed, "", vecCol,
        fitSampleLimit))
    if (saveIvf(spark, root, art)) art else loadIvf(spark, root)
  }

  /** The id/vector widths every vector-carrying segment is written with:
    * long ids, double vectors. */
  private def widened(batch: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    batch.select(col(idCol).cast("long").as(idCol),
      col(vecCol).cast("array<double>").as(vecCol))

  /** Encode + append one batch to a FLAT store: nearest-centroid
    * assignment (single projection), segments carry the raw vectors.
    * Cost ∝ batch; replay contract = [[DedupStore.append]]'s. */
  def appendFlat(spark: SparkSession, root: String, batchId: Long,
      batch: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): Boolean = {
    val art = loadIvf(spark, root)
    DedupStore.append(spark, codesRoot(root), batchId,
      Similarity.assignToCentroids(widened(batch, idCol, vecCol),
        art.centroids, idCol, vecCol))
  }

  /** Top-k cosine over the FLAT store: [[Similarity.searchFlat]] over the
    * committed segments with the loaded centroids — zero fit jobs. The
    * fit-per-query [[Similarity.ivfTopK]] runs the same search over the
    * lists it just encoded, so the two are row-identical at the same
    * dials and seed (spec-pinned). */
  def searchTopKFlat(spark: SparkSession, root: String, queries: DataFrame,
      k: Int, nprobe: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val art = loadIvf(spark, root)
    Similarity.searchFlat(readCodes(spark, root), art.centroids, queries, k,
      nprobe, idCol, vecCol)
  }

  /** Encode + append one batch to an INT8 store ([[Similarity.encodeInt8]]):
    * segments carry (centroid_id, corpus_id, cq struct(scale, codes)),
    * 1 byte per dimension. */
  def appendInt8(spark: SparkSession, root: String, batchId: Long,
      batch: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): Boolean = {
    val art = loadIvf(spark, root)
    DedupStore.append(spark, codesRoot(root), batchId,
      Similarity.encodeInt8(widened(batch, idCol, vecCol), art.centroids,
        idCol, vecCol))
  }

  /** Top-k cosine over the INT8 store: [[Similarity.searchInt8]] — the int8
    * dot-product scan of the probed lists, then the exact re-rank of the
    * rerank·k survivors against the raw `corpus` — over the committed
    * segments, the search [[Similarity.ivfTopKQuantized]] runs over its
    * in-query encode. */
  def searchTopKInt8(spark: SparkSession, root: String, corpus: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int = 4, rerank: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rerank >= 1, "rerank >= 1")
    val art = loadIvf(spark, root)
    Similarity.searchInt8(readCodes(spark, root), art.centroids, corpus,
      queries, k, nprobe, rerank, idCol, vecCol)
  }

  /** Persist fitted IMI half-space codebooks. Same replay/race contract
    * as [[saveQuantizer]]. */
  def saveImi(spark: SparkSession, root: String, art: ImiArtifact): Boolean =
    commitArtifact(spark, root, "imi",
      Seq(("meta", art.dim, art.cbA.length + art.cbB.length,
        Seq(art.cbA.length.toDouble, art.cbB.length.toDouble))) ++
        art.cbA.zipWithIndex.map { case (v, j) => ("codebook", 0, j, v.toSeq) } ++
        art.cbB.zipWithIndex.map { case (v, j) => ("codebook", 1, j, v.toSeq) })

  def loadImi(spark: SparkSession, root: String): ImiArtifact =
    loadArtifact(spark, root, "imi", "trainImi") { a =>
      val kk = a.meta.getSeq[Double](3)
      val (ka, kb) = (kk(0).toInt, kk(1).toInt)
      val cb = a.grid("codebook")
      a.check(cb.size == ka + kb,
        s"${cb.size} codebook rows vs kA+kB=${ka + kb}")
      ImiArtifact(a.meta.getInt(1), Array.tabulate(ka)(j => cb((0, j))),
        Array.tabulate(kb)(j => cb((1, j))))
    }

  /** Fit IMI half-space codebooks on `corpus` and persist them — run ONCE
    * per store; replays load the committed artifact. */
  def trainImi(spark: SparkSession, root: String, corpus: DataFrame,
      dim: Int, kA: Int = 8, kB: Int = 8, seed: Long = 42L,
      vecCol: String = "embedding",
      fitSampleLimit: Int = 100000): ImiArtifact = {
    if (committed(spark, root, "imi")) return loadImi(spark, root)
    val (cbA, cbB) = Similarity.imiCodebooks(corpus, kA, kB, seed, vecCol,
      fitSampleLimit)
    val art = ImiArtifact(dim, cbA, cbB)
    if (saveImi(spark, root, art)) art else loadImi(spark, root)
  }

  /** Encode + append one batch to an IMI store: top-1 cell assignment
    * (broadcast half-codebook kernel, kA+kB half-dots per row), segments
    * carry (cell_id, corpus_id, c_vec). */
  def appendImi(spark: SparkSession, root: String, batchId: Long,
      batch: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): Boolean = {
    val art = loadImi(spark, root)
    DedupStore.append(spark, codesRoot(root), batchId,
      Similarity.imiAssignTop(batch, art.cbA, art.cbB, 1, idCol, vecCol))
  }

  /** Top-k cosine over the IMI store: [[Similarity.searchImi]] over the
    * committed segments with the loaded codebooks — zero fit jobs, the
    * search [[Similarity.imiTopK]] runs over its in-query encode
    * (row-identical at the same dials and seed, spec-pinned). */
  def searchTopKImi(spark: SparkSession, root: String, queries: DataFrame,
      k: Int, nprobe: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val art = loadImi(spark, root)
    Similarity.searchImi(readCodes(spark, root), art.cbA, art.cbB, queries,
      k, nprobe, idCol, vecCol)
  }

  // ------------------------------------------------- retrain-rotate cutover

  /** The RESPONSE to the staleness signal the train-once contract raises
    * (dt07's drift monitor): the quantizer is immutable per root, so a
    * refit is a NEW store — and the alias layer below makes the cutover
    * atomic for readers. An ALIAS is a directory holding versioned
    * POINTER files (`ptr-<stamp>`, content = the live store root);
    * readers resolve the lexicographically-newest pointer, writers
    * publish a new one with a private-stage + atomic-file-rename commit.
    * Readers therefore always see a COMPLETE store: the pointer is
    * written only after the new root's quantizer and segments are fully
    * committed, a crash mid-rotate leaves the old pointer live and the
    * half-built root as unreferenced (sweepable) debris, and the old
    * store remains on disk for rollback (re-publishing its root IS the
    * rollback). This is the materialized-view refresh discipline
    * (reference: dbt/adapters/maxcompute/impl.py:113-158 +
    * relations/materialized_view/refresh.sql — rebuild, then swap)
    * applied to the ANN index artifact. */
  private def ptrPrefix = "ptr-"

  /** Stamp clock: per-JVM MONOTONIC millis (`max(now, last+1)`), so two
    * publishes from one process order by publish order even inside the
    * same wall-clock millisecond — pointer ordering is a total order by
    * construction, not by uuid luck. Cross-JVM same-millis publishes
    * still tie-break by uuid; they are unreachable in practice (a rotate
    * carries a full fit, seconds apart at minimum). */
  private val stampClock = new java.util.concurrent.atomic.AtomicLong(0L)

  private def newStamp(): String = {
    val t = stampClock.updateAndGet(last =>
      math.max(System.currentTimeMillis(), last + 1))
    f"$t%013d-${java.util.UUID.randomUUID().toString}"
  }

  /** The store root the alias currently serves, None before the first
    * publish. One directory listing + one kilobyte read. */
  def currentRoot(spark: SparkSession, alias: String): Option[String] = {
    val f = fs(spark, alias)
    val a = new HPath(alias)
    if (!f.exists(a)) return None
    val ptrs = f.listStatus(a).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(ptrPrefix))
    if (ptrs.isEmpty) return None
    val latest = ptrs.maxBy(_.getPath.getName).getPath
    val in = f.open(latest)
    try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
    finally in.close()
  }

  /** Point the alias at `storeRoot` — the atomic cutover step. The
    * pointer file is published by [[graft.exec.Publish.file]] (one atomic
    * FILE rename); concurrent publishes both land (distinct stamps) and the
    * newest wins deterministically. Requires the target store to be
    * complete (committed quantizer) — publishing a half-built root is the
    * one way to break the reader contract. */
  def publishRoot(spark: SparkSession, alias: String, storeRoot: String): Unit = {
    require(committedFamily(spark, storeRoot).nonEmpty,
      s"IndexStore: refusing to publish $storeRoot — no committed " +
        "artifact of any family (readers must never resolve to a " +
        "half-built store)")
    if (!graft.exec.Publish.file(fs(spark, alias),
        new HPath(alias, ptrPrefix + newStamp()), storeRoot.getBytes("UTF-8")))
      throw new java.io.IOException(
        s"IndexStore: cannot publish pointer under $alias")
  }

  /** Retrain-rotate: fit a FRESH quantizer on `corpus` at a new root
    * under the alias, re-encode the corpus as that root's segment 0, and
    * cut searches over with one atomic pointer publish. Searches running
    * concurrently resolve either the old root or the new one — never a
    * partial store (the pointer flips only after the new store is fully
    * committed) — and the old root stays on disk for rollback
    * ([[sweepSuperseded]] reclaims it once it ages out). Also the FIRST
    * build: with no prior pointer this simply creates and publishes the
    * initial store. Returns the new root. */
  def rotate(spark: SparkSession, alias: String, corpus: DataFrame,
      dim: Int, nlist: Int = 16, m: Int = 8, codebookSize: Int = 16,
      seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding", carryCols: Seq[String] = Nil,
      fitSampleLimit: Int = 100000, foldBatchId: Long = 0L): String = {
    val newRoot = buildRoot(spark, alias, corpus, dim, nlist, m,
      codebookSize, seed, idCol, vecCol, carryCols, fitSampleLimit,
      foldBatchId)
    publishRoot(spark, alias, newRoot)
    newRoot
  }

  /** The build half of [[rotate]]: fit + fold-encode a complete store at
    * a fresh root under the alias WITHOUT publishing the pointer. Exposed
    * (package-private) so callers that must land state on the new root
    * before readers can resolve it — the guarded streaming ingest's
    * exactly-once replay markers — can order build → seed → publish; a
    * crash anywhere before publish leaves the old pointer live and the
    * half-built root as unreferenced, sweepable debris. */
  private[llm] def buildRoot(spark: SparkSession, alias: String,
      corpus: DataFrame, dim: Int, nlist: Int = 16, m: Int = 8,
      codebookSize: Int = 16, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding", carryCols: Seq[String] = Nil,
      fitSampleLimit: Int = 100000, foldBatchId: Long = 0L): String = {
    val newRoot = s"$alias/store-${newStamp()}"
    train(spark, newRoot, corpus, dim, nlist, m, codebookSize, seed,
      vecCol, fitSampleLimit)
    // `foldBatchId` is the re-encoded corpus segment's id — callers whose
    // ingest batch ids share the default 0 (the guarded streaming ingest)
    // pass the -1L seed convention so the fold never shadows a real batch
    appendCodes(spark, newRoot, foldBatchId, corpus, idCol, vecCol,
      carryCols)
    newRoot
  }

  /** Search through the alias: resolve the live pointer, search that
    * root with the family the root's committed artifact declares —
    * residual-PQ ([[searchTopK]]), IMI ([[searchTopKImi]]), or the
    * shared-centroid families, where the SEGMENT schema distinguishes
    * int8 codes from flat vectors. Rotate-safe by construction — the
    * resolved root is immutable-complete whichever side of a concurrent
    * cutover this lands on. `matchCols` is residual-store-only (the one
    * attribute-carrying segment layout); `rerank` is ignored by the
    * exact-in-scan families (flat, IMI). */
  def searchCurrent(spark: SparkSession, alias: String, corpus: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int = 4, rerank: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      matchCols: Seq[String] = Nil): DataFrame = {
    val root = currentRoot(spark, alias).getOrElse(throw
      new IllegalStateException(
        s"IndexStore alias $alias has no published store — run rotate"))
    val family = committedFamily(spark, root)
    if (family.contains("quantizer"))
      searchTopK(spark, root, corpus, queries, k, nprobe, rerank, idCol,
        vecCol, matchCols)
    else {
      require(matchCols.isEmpty,
        "metadata-filtered search requires a residual-PQ store " +
          "(the attribute-carrying segment layout)")
      if (family.contains("imi"))
        searchTopKImi(spark, root, queries, k, nprobe, idCol, vecCol)
      else if (readCodes(spark, root).columns.contains("cq"))
        searchTopKInt8(spark, root, corpus, queries, k, nprobe, rerank,
          idCol, vecCol)
      else
        searchTopKFlat(spark, root, queries, k, nprobe, idCol, vecCol)
    }
  }

  /** GC superseded stores under an alias: keeps every store referenced by
    * the newest `keepPointers` pointer files plus anything younger than
    * `minAgeMs` (a rotate may be mid-flight), deletes the rest and their
    * stale pointers. The age gate is the rollback window — size it to the
    * operational "how long until we trust the new quantizer" horizon.
    * Returns the deleted paths. */
  def sweepSuperseded(spark: SparkSession, alias: String,
      keepPointers: Int = 2, minAgeMs: Long = 30L * 60 * 1000): Seq[String] = {
    require(keepPointers >= 1, "keepPointers >= 1 — never sweep the live store")
    val f = fs(spark, alias)
    val a = new HPath(alias)
    if (!f.exists(a)) return Nil
    val now = System.currentTimeMillis()
    val all = f.listStatus(a).toSeq
    val ptrs = all.filter(st => st.isFile
      && st.getPath.getName.startsWith(ptrPrefix)).sortBy(_.getPath.getName)
    val (old, kept) = ptrs.splitAt(math.max(0, ptrs.size - keepPointers))
    def read(p: HPath): String = {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    val keptRoots = kept.map(st => read(st.getPath)).toSet
    val sweptPtrs = old.filter(st => now - st.getModificationTime >= minAgeMs
        && !keptRoots.contains(read(st.getPath)))
      .map { st => f.delete(st.getPath, false); st.getPath.toString }
    val sweptStores = all.filter { st =>
      st.isDirectory && st.getPath.getName.startsWith("store-") &&
        !keptRoots.contains(st.getPath.toString) &&
        !keptRoots.contains(f.makeQualified(st.getPath).toString) &&
        !keptRoots.exists(_.endsWith("/" + st.getPath.getName)) &&
        now - st.getModificationTime >= minAgeMs
    }.map { st => f.delete(st.getPath, true); st.getPath.toString }
    sweptPtrs ++ sweptStores
  }

  // ------------------------------------------- self-healing ingest (guarded)

  /** One ingest step of a SELF-HEALING index: append the batch to the
    * alias's live store — unless the batch's cell-assignment distribution
    * says the committed quantizer no longer fits the data, in which case
    * RESPOND with [[rotate]] (fresh fit on history + batch, atomic alias
    * cutover) instead of appending garbage codes. This closes dt07's
    * monitor and s18's rotate into the ingest loop itself: at 100 TB
    * nobody watches a dashboard — the pipeline must notice drift and heal
    * within the batch that brought it.
    *
    * Drift dial (dt07's calibration-split discipline, localized per
    * batch): the store-vs-batch chi² must exceed ALL of — an absolute
    * floor (`minChi2`, tiny batches are noisy); `calibFactor ×` the
    * within-batch half-vs-half chi² (the batch split by id hash — the
    * iid yardstick); and `priorFactor ×` the LARGEST store-vs-batch
    * statistic a previously ACCEPTED batch recorded (a tiny `guard/`
    * stat file per append). The third leg is load-bearing on real
    * corpora: duplicate clusters (the ~100-copy boilerplate)
    * multiply between-batch sampling noise by the duplication factor —
    * AutoRotateDialProbe (retired,
    * `git show 82306df:src/main/scala/graft/examples/AutoRotateDialProbe.scala`)
    * measured the stale-batch statistic at 3.9 /
    * 5.9 / 71 / 1880 across sf0.001→sf10 while the id-hash halves
    * (which split every copy-cluster evenly) stayed ≈ dof, so an
    * iid-only dial false-fires at scale; the prior-batch yardstick is
    * subject to the SAME clustering and absorbs it (drifted/stale
    * separation measured ≥ 39× at every scale — priorFactor 10 holds
    * ≥ 1.6× margin up and ≥ 3.9× down). Before ONE accepted batch has
    * recorded a yardstick (the warm-up window), chi² magnitude alone
    * cannot tell duplication from drift — there the guard consults the
    * TOTAL-VARIATION distance over cell shares instead
    * ([[graft.exec.DataTests.driftTv]], `warmupTvFloor`): TV measures
    * the moved mass itself and duplication widens only its noise floor,
    * so a genuinely drifted warm-up batch (TV ≥ 0.507 measured across
    * five scales) rotates immediately while a duplication-inflated
    * same-distribution one (TV ≤ 0.136 at up to 100× duplication) waits
    * for the yardstick path — a mild drift below the TV floor appends
    * with degraded recall (the graceful IVF failure mode) and the NEXT
    * batch can fire. Corpus-scale work is three grouped counts over the
    * encoded batch + one over the store's codes (the TV pass runs only
    * on warm-up batches).
    *
    * Exactly-once ACROSS the cutover: the batch id is the commit token
    * in the live root's code segments. On rotate (and on bootstrap) the
    * re-encoded corpus lands as the `-1L` fold segment — the seed
    * convention, so it can never shadow a real stream batch id — and
    * every previously-committed id (plus the firing one) is committed as
    * a ledger entry ([[DedupStore.markCommitted]]) on the new root BEFORE
    * the alias pointer publishes (build → mark → publish): a replayed
    * batch no-ops whichever side of the rotation it lands on, a restarted
    * stream cannot double-index through a cutover, and a crash
    * mid-rotation leaves the old pointer live — never a published root
    * missing its replay markers. (A replayed id at or below the rotation
    * point maps to "content already inside the fold", the same skip
    * semantics as [[DedupStore.append]]'s.)
    *
    * `corpus` is the source-of-truth vector table (the store holds codes,
    * never vectors): the rotate re-encodes `corpus ∩ indexed-ids ∪ batch`
    * — exactly what the index held plus the batch that fired. First call
    * (no published root) bootstraps the initial store from the batch.
    * Returns true when this step rotated (or bootstrapped). */
  def ingestWithDriftGuard(spark: SparkSession, alias: String,
      batchId: Long, batch: DataFrame, corpus: DataFrame, dim: Int,
      nlist: Int = 16, m: Int = 8, codebookSize: Int = 16,
      seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding", minChi2: Double = 100.0,
      calibFactor: Double = 20.0, priorFactor: Double = 10.0,
      warmupTvFloor: Double = 0.3,
      fitSampleLimit: Int = 100000): Boolean = {
    require(batchId >= 0L,
      "ingestWithDriftGuard: stream batch ids are non-negative (the -1L " +
        "fold convention and the reserved compaction space are the store's)")
    val slim = batch.select(col(idCol), col(vecCol))
    // the new root's own -1L fold is already committed, and a fold id
    // (content, not a replay token) is never carried across
    def markCommitted(root: String, ids: Seq[Long]): Unit =
      DedupStore.markCommitted(spark, codesRoot(root),
        ids.filter(_ < DedupStore.CompactBase))
    currentRoot(spark, alias) match {
      case None =>
        // markers land on the new root BEFORE the pointer flips: a crash
        // in the window leaves the old state live and the built root as
        // sweepable debris — the replayed batch re-runs the whole step.
        // (Publishing first would open a window where the live root lacks
        // the firing batch's marker and a restart double-indexes it.)
        val r = buildRoot(spark, alias, slim, dim, nlist, m, codebookSize,
          seed, idCol, vecCol, Nil, fitSampleLimit, foldBatchId = -1L)
        markCommitted(r, Seq(batchId))
        publishRoot(spark, alias, r)
        true
      case Some(root) =>
        val committed = DedupStore.committedBatches(spark, codesRoot(root))
        if (committed.contains(batchId)) return false // replay: skip
        val rq = loadQuantizer(spark, root)
        val codes = Similarity.encodeResidual(slim, rq, idCol, vecCol)
          .localCheckpoint() // encode ONCE: feeds the monitor and the append
        def chi2Of(base: DataFrame, cur: DataFrame): Double =
          graft.exec.DataTests.driftChi2(base, cur, "centroid_id")
            .agg(max(col("chi2_stat"))).collect()(0).getDouble(0)
        // store-vs-batch uses the WHOLE batch (chi² grows ∝ n — halving
        // the sample halves the drift signal); the id-hash halves only
        // supply the same-distribution yardstick the factor dial needs
        val halfA = codes.filter(pmod(xxhash64(col("corpus_id")), lit(2)) === 0)
          .select(col("centroid_id"))
        val halfB = codes.filter(pmod(xxhash64(col("corpus_id")), lit(2)) === 1)
          .select(col("centroid_id"))
        val storeCells = readCodes(spark, root).select(col("centroid_id"))
        val batchCells = codes.select(col("centroid_id"))
        val vsStore = chi2Of(storeCells, batchCells)
        // the yardstick needs both halves populated: a batch so small one
        // hash-half is empty cannot supply drift evidence (a single stray
        // vector in an unseen cell CAN push raw chi² past the floor) —
        // insufficient evidence appends, it never rotates. Likewise a
        // store with no recorded prior-batch statistic: the duplication
        // level is unknowable without one (see the dial note above)
        val prior = readGuardStats(spark, root)
        lazy val within = math.max(chi2Of(halfA, halfB), 7.0)
        // drift evidence independent of the prior yardstick: the raw floor
        // plus the within-batch calibration bound
        val suspicious = vsStore > minChi2 &&
          halfA.limit(1).count() > 0 && halfB.limit(1).count() > 0 &&
          vsStore > calibFactor * within
        // WARM-UP path (no recorded yardstick yet): chi² magnitude alone
        // cannot break the duplication-vs-drift ambiguity (duplication
        // multiplies a same-distribution batch's chi² by the copy factor
        // — the r16 clamp false-fired at sf10 on exactly this), but the
        // total-variation distance over cell SHARES can: TV is scale-free,
        // centered on the true distributional distance at any duplication
        // level (duplication widens only its noise floor, by √copies).
        // DriftSeparatorProbe (retired,
        // `git show 82306df:src/main/scala/graft/examples/DriftSeparatorProbe.scala`)
        // measured same-dist TV ≤ 0.136 and drifted
        // TV ≥ 0.507 across sf0.001→sf10 (1×→100× duplication) — floor
        // 0.3 holds ≥ 2.2× margin against a false warm-up rotation and
        // ≥ 1.69× against a missed one (which appends gracefully and
        // fires next batch via the yardstick path). Evaluated lazily:
        // steady-state batches (yardstick present) never pay the pass.
        lazy val movedMass = graft.exec.DataTests
          .driftTv(storeCells, batchCells, "centroid_id")
          .agg(max(col("tv_stat"))).collect()(0).getDouble(0)
        val fire = suspicious &&
          ((prior.nonEmpty && vsStore > priorFactor * prior.max) ||
            (prior.isEmpty && movedMass > warmupTvFloor))
        if (fire) {
          val indexedIds = readCodes(spark, root)
            .select(col("corpus_id").cast("long").as(idCol))
          val history = corpus.select(col(idCol), col(vecCol))
            .join(indexedIds, Seq(idCol), "left_semi")
          val r2 = buildRoot(spark, alias, history.unionByName(slim), dim,
            nlist, m, codebookSize, seed, idCol, vecCol, Nil,
            fitSampleLimit, foldBatchId = -1L)
          // exactly-once across the cutover: every batch the OLD store had
          // committed (folded or not — its content now lives in the new
          // fold), plus the firing batch, is marked on the new root BEFORE
          // the pointer publish — replays no-op on either side of the
          // rotation, and a crash mid-cutover leaves the old pointer live
          // with the new root as sweepable debris, never a published root
          // missing its markers.
          markCommitted(r2, committed :+ batchId)
          publishRoot(spark, alias, r2)
          true
        } else {
          DedupStore.append(spark, codesRoot(root), batchId, codes)
          // the yardstick records the OBSERVED store-vs-batch statistic,
          // even when the batch carried prior-independent drift evidence.
          // The alternative — clamping a suspicious warm-up batch's
          // record to its within-batch chi² so a later drifted batch
          // could still fire — was tried in r16 and MEASURED to
          // false-fire at sf10: chi² magnitude cannot tell duplication
          // from drift (a duplicated corpus inflates every
          // same-distribution batch's vs-store chi² by the copy factor
          // while the within-batch split stays low), so the clamp seeded
          // a tiny yardstick and the very next normal batch spuriously
          // rotated. The honest discriminator is the TV-over-shares
          // warm-up path above, which fires BEFORE this append on a
          // batch whose mass actually moved; a batch that reaches here
          // records what it saw, inflation and all.
          writeGuardStat(spark, root, batchId, vsStore)
          false
        }
    }
  }

  /** The drift guard's per-root yardstick state: one tiny `stat-<batch>`
    * file per ACCEPTED batch, holding that batch's store-vs-batch chi².
    * Root-scoped — a rotation starts a fresh store whose first accepted
    * batch re-seeds the yardstick. Kilobytes, one listing to read. */
  private def guardDir(root: String) = new HPath(root, "guard")

  private def readGuardStats(spark: SparkSession, root: String): Seq[Double] = {
    val f = fs(spark, root)
    val d = guardDir(root)
    if (!f.exists(d)) return Nil
    f.listStatus(d).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("stat-"))
      .map { st =>
        val in = f.open(st.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toDouble
        finally in.close()
      }
  }

  private def writeGuardStat(spark: SparkSession, root: String,
      batchId: Long, v: Double): Unit = {
    // a loss means a concurrent replay already recorded it
    graft.exec.Publish.file(fs(spark, root),
      new HPath(guardDir(root), s"stat-$batchId"), v.toString.getBytes("UTF-8"))
  }

  /** Bound the drift guard's per-root yardstick state: keep the newest
    * `keep` accepted-batch statistics (by batch id), delete the rest.
    * The dial compares against `max` over recorded stats, so pruning to
    * recent batches keeps the yardstick tracking the CURRENT corpus
    * shape (duplication level drifts too) while stopping the one-file-
    * per-accepted-batch growth. Returns the number deleted. */
  def pruneGuardStats(spark: SparkSession, root: String,
      keep: Int = 8): Int = {
    require(keep >= 1, "keep >= 1 — never delete the entire yardstick")
    val f = fs(spark, root)
    val d = guardDir(root)
    if (!f.exists(d)) return 0
    val old = f.listStatus(d).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith("stat-"))
      .sortBy(_.getPath.getName.stripPrefix("stat-").toLong)
      .dropRight(keep)
    old.foreach(st => f.delete(st.getPath, false))
    old.size
  }

  /** What one [[maintain]] pass did — the operational audit record. */
  case class MaintainReport(sweptStores: Seq[String],
      sweptStaging: Seq[String], prunedGuardStats: Int,
      compactedFold: Option[Long])

  /** ONE scheduled entry point for alias lifecycle hygiene (r15 VERDICT
    * #4 — previously three separate sweeps plus an unbounded guard dir
    * that an operator had to remember individually):
    *
    *  1. [[sweepSuperseded]] — GC stores and pointers older than the
    *     rollback window, keeping the newest `keepPointers`.
    *  2. [[recoverStaging]] on every surviving store root — crashed
    *     trainers' staging debris.
    *  3. [[pruneGuardStats]] on every surviving root — bound the drift
    *     guard's yardstick files to the newest `keepGuardStats`.
    *  4. Horizon-bounded code compaction on the LIVE root: when more
    *     than `max(compactMinSegments, asOfHorizonSegments)` ingest
    *     segments hold unfolded rows, fold all but the newest
    *     `asOfHorizonSegments` ([[compactCodes]]; folded ids keep their
    *     replay markers) — segment count stays bounded while
    *     [[DedupStore.readAsOf]]/[[searchTopK]]'s asOfBatch keep working
    *     across the configured audit horizon. The cadence counts only
    *     segments NOT yet folded (via [[DedupStore.foldedThrough]]), so
    *     a quiet store is never re-folded.
    *
    * Everything here is metadata-sized except the fold itself, which is
    * one read+write of the code rows (m bytes + id per vector) at most
    * once per cadence trigger. Safe to schedule against live searches
    * (immutable roots, atomic pointers) and against the guarded ingest
    * (the compaction lease + the permanent replay ledger — the machinery
    * pinned by IndexStoreSpec's mid-stream compaction race). */
  def maintain(spark: SparkSession, alias: String, keepPointers: Int = 2,
      minAgeMs: Long = 30L * 60 * 1000, keepGuardStats: Int = 8,
      compactMinSegments: Int = 16,
      asOfHorizonSegments: Int = 8): MaintainReport = {
    val sweptStores = sweepSuperseded(spark, alias, keepPointers, minAgeMs)
    val f = fs(spark, alias)
    val a = new HPath(alias)
    val roots = if (!f.exists(a)) Seq.empty[String]
      else f.listStatus(a).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("store-"))
        .map(_.getPath.toString)
    val staging = roots.flatMap(r => recoverStaging(spark, r, minAgeMs))
    val pruned = roots.map(r => pruneGuardStats(spark, r, keepGuardStats)).sum
    val fold = currentRoot(spark, alias).flatMap { live =>
      val cr = codesRoot(live)
      val foldedThrough = DedupStore.foldedThrough(spark, cr)
      val unfolded = DedupStore.committedBatches(spark, cr)
        .filter(id => id < DedupStore.CompactBase &&
          foldedThrough.forall(id > _))
      if (unfolded.size <= math.max(compactMinSegments, asOfHorizonSegments))
        None
      else unfolded.sorted.dropRight(asOfHorizonSegments).lastOption
        .map(u => compactCodes(spark, live, Some(u)))
    }
    MaintainReport(sweptStores, staging, pruned, fold)
  }

  // ------------------------------------------------------------ store merge

  /** Exact bit-fingerprint of a fitted artifact — the merge-compatibility
    * check. Doubles are compared by RAW BITS (doubleToRawLongBits), not
    * by value: two fits that differ in the last ulp produce codes that
    * score differently, so "close enough" is exactly the silent-wrongness
    * merge must refuse. */
  private def artifactFingerprint(kind: String, ints: Seq[Int],
      vecs: Iterator[Array[Double]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(kind.getBytes("UTF-8"))
    val buf = java.nio.ByteBuffer.allocate(8)
    def putLong(l: Long): Unit = {
      buf.clear(); buf.putLong(l); md.update(buf.array(), 0, 8)
    }
    ints.foreach(i => putLong(i.toLong))
    vecs.foreach { v =>
      putLong(v.length.toLong)
      v.foreach(d => putLong(java.lang.Double.doubleToRawLongBits(d)))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** The committed artifact family under `root` plus its exact
    * fingerprint: ("quantizer", fp) / ("ivf", fp) / ("imi", fp). Loads
    * ride the per-root cache — kilobytes either way. */
  private def familyFingerprint(spark: SparkSession,
      root: String): (String, String) = {
    val family = committedFamily(spark, root).getOrElse(
      throw new IllegalArgumentException(
        s"IndexStore at $root has no committed artifact of any family"))
    val (ints, vecs) = family match {
      case "quantizer" =>
        val rq = loadQuantizer(spark, root)
        (Seq(rq.dim, rq.nlist, rq.m, rq.codebookSize),
          rq.centroids.iterator.map(_._2.toArray) ++ rq.cellMeans.iterator ++
            rq.codebooks.iterator.flatMap(_.iterator))
      case "ivf" =>
        val art = loadIvf(spark, root)
        (Seq(art.dim, art.nlist), art.centroids.iterator.map(_._2.toArray))
      case _ =>
        val art = loadImi(spark, root)
        (Seq(art.dim), art.cbA.iterator ++ art.cbB.iterator)
    }
    (family, artifactFingerprint(family, ints, vecs))
  }

  /** Merge committed sibling stores into `dstRoot` — the FAISS
    * `merge_from`/`merge_ondisk` discipline on Spark: shard builders
    * index their slice against ONE shared fitted artifact (train once,
    * ship the kilobyte artifact to every region/day builder), and merge
    * unifies the shards WITHOUT touching a single vector. The
    * destination commits the shared artifact (replay-idempotent), then
    * each source's committed code rows append as one destination
    * segment: cost ∝ code bytes (m bytes + id per vector), ZERO fit
    * jobs, ZERO encode jobs, zero corpus reads — at 100 TB the merge
    * moves the index, never the data.
    *
    * Safety contract: refuses loudly unless every store involved
    * (sources AND a dst with a pre-existing artifact) carries the same
    * family with a BIT-IDENTICAL artifact ([[artifactFingerprint]] —
    * raw double bits, not value-epsilon): codes encoded against
    * different codebooks score silently wrong, and re-encoding divergent
    * stores is [[rotate]]'s job, never merge's. Segment schemas must
    * match too (a carryCols residual store cannot merge with a bare one:
    * every segment of a store carries the same columns).
    *
    * Idempotent by the [[DedupStore.append]] replay contract: the dst
    * segment id for source i is `idBase + i`, so a crashed merge re-run
    * no-ops the already-copied sources and finishes the rest. A replay
    * is VERIFIED, not assumed (r15 ADVICE): an already-committed dst
    * segment must carry the same row count and the same order-free
    * corpus-id fingerprint as the source — a later merge of DIFFERENT
    * or reordered sources at a reused idBase fails loud instead of
    * silently leaving the new sources unmerged behind a false "already
    * copied"; a dst segment a compaction has since folded can no longer
    * be verified, so its replay refuses loudly too. Returns one Boolean
    * per source — true when THIS call committed it. */
  def mergeStores(spark: SparkSession, dstRoot: String,
      srcRoots: Seq[String], idBase: Long = 0L): Seq[Boolean] = {
    require(srcRoots.nonEmpty, "mergeStores: no sources")
    val fps = srcRoots.map(r => r -> familyFingerprint(spark, r))
    val (family, fp) = fps.head._2
    fps.foreach { case (r, (fam, f2)) =>
      require(fam == family && f2 == fp,
        s"mergeStores: $r ($fam/$f2) is not merge-compatible with " +
          s"${srcRoots.head} ($family/$fp) — stores must share one " +
          "bit-identical fitted artifact; re-encoding divergent stores " +
          "is rotate's job")
    }
    val schemas = srcRoots.map(r => readCodes(spark, r).schema)
    schemas.tail.foreach(sc2 => require(sc2 == schemas.head,
      s"mergeStores: segment schemas differ across sources " +
        s"(${schemas.head.simpleString} vs ${sc2.simpleString}) — " +
        "a carryCols store cannot merge with a bare one"))
    // commit the shared artifact at dst (no-op when already committed —
    // but then it must BE the shared artifact, not some third fit)
    family match {
      case "quantizer" => saveQuantizer(spark, dstRoot,
        loadQuantizer(spark, srcRoots.head))
      case "ivf" => saveIvf(spark, dstRoot, loadIvf(spark, srcRoots.head))
      case _ => saveImi(spark, dstRoot, loadImi(spark, srcRoots.head))
    }
    val (dstFam, dstFp) = familyFingerprint(spark, dstRoot)
    require(dstFam == family && dstFp == fp,
      s"mergeStores: $dstRoot already holds a DIFFERENT committed " +
        s"artifact ($dstFam/$dstFp vs $family/$fp) — refusing to append " +
        "foreign codes into it")
    srcRoots.zipWithIndex.map { case (src, i) =>
      val srcCodes = readCodes(spark, src)
      val appended = DedupStore.append(spark, codesRoot(dstRoot),
        idBase + i, srcCodes)
      if (!appended) {
        // replay verification: the committed segment at this id must BE
        // this source's codes. Count + an order-free id fingerprint (one
        // narrow column scan per side) — identical ids under the shared
        // bit-identical artifact encode to identical codes, so id-set
        // equality is content equality here
        def sig(df: DataFrame): (Long, Long) = {
          // bit_xor: order-free and overflow-free (ANSI-safe; segment ids
          // are distinct, so XOR cancellation cannot occur)
          val r = df.agg(count(lit(1)),
            expr("bit_xor(xxhash64(corpus_id))")).collect()(0)
          (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        }
        val seg = DedupStore.segmentPath(spark, codesRoot(dstRoot),
            idBase + i).getOrElse(throw new IllegalStateException(
          s"mergeStores: dst segment ${idBase + i} is committed but a " +
            s"compaction has folded it — the replay of source $src cannot " +
            "be verified; merge new sources at a fresh idBase"))
        require(sig(spark.read.parquet(seg)) == sig(srcCodes),
          s"mergeStores: dst segment ${idBase + i} is committed but does " +
            s"NOT match source $src — a previous merge used this idBase " +
            "for a different source set; pick an idBase unique per source " +
            "set (the replay no-op is only valid for the same sources in " +
            "the same order)")
      }
      appended
    }
  }
}
