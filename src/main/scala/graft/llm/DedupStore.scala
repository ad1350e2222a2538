package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Durable, append-only stores for INCREMENTAL dedup — the production
  * ingest loop that [[Dedup.incrementalExact]] / [[Dedup.incrementalNearDup]]
  * probe against. Round 9 proved the probe shape (shuffle ∝ batch, history
  * never rescanned); this closes the loop: each ingested batch's SURVIVOR
  * fingerprints / signatures are appended as an immutable parquet segment,
  * so the next batch dedups against history + all prior batches without
  * any store rewrite.
  *
  * Layout (one directory per store):
  * {{{
  *   <root>/segments/<batchId>/   parquet rows of that batch
  *   <root>/done-<batchId>        commit marker (Publish.file: temp + rename)
  * }}}
  *
  * The `done-<id>` markers are the ONE replay ledger (a task retry, an
  * orchestrator re-run, a stream restarted from a fresh checkpoint), and
  * every rule about them lives here. An ingest id's marker is permanent:
  * [[compact]] folds its rows and deletes its dir but keeps the marker,
  * so [[append]] of a committed batchId is a NO-OP (returns false) before
  * and after any compaction; [[markCommitted]] writes entries with no
  * rows. Reads see data-bearing segments only: a marked id whose dir
  * exists and that no committed fold holds. A marker without a dir is a
  * ledger entry; a dir without a marker is a crashed append's debris
  * (data first, marker last via atomic rename) that reads ignore.
  *
  * Scale shape: append cost ∝ batch (one parquet write, no read-modify-write
  * of history); read is a multi-path parquet scan whose per-segment
  * footers prune columns like any other scan. Segment count grows one per
  * ingest — [[compact]] folds them into one when it ever matters, at a
  * cost ∝ the rows it folds. Nothing here is cached: the store lives on
  * disk, not in the session (see the cache contract note on [[Dedup]]).
  */
object DedupStore {

  private def fs(spark: SparkSession, root: String) =
    new HPath(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def segDir(root: String, batchId: Long) =
    new HPath(root, s"segments/$batchId")
  private def doneMarker(root: String, batchId: Long) =
    new HPath(root, s"done-$batchId")
  private def leasePath(root: String) = new HPath(root, "compacting")
  private def holdsFile(root: String, foldId: Long) =
    new HPath(segDir(root, foldId), "_holds")

  /** Segment ids at or above this are RESERVED for [[compact]]'s merged
    * segments: appends may never use them, so a compact's output directory
    * can never collide with an in-flight append's — the id spaces are
    * disjoint by construction, which is what makes the residual
    * lease-acquired-mid-append race harmless (see [[append]]). Append ids
    * below the base are unrestricted (the -1L seed convention included). */
  val CompactBase: Long = 1L << 61

  private def requireIngestId(batchId: Long): Unit =
    require(batchId < CompactBase,
      s"DedupStore: batchIds >= 2^61 ($CompactBase) are reserved for " +
        "compaction segments")

  /** Publish `batchId`'s marker atomically ([[graft.exec.Publish.file]]);
    * a marker another writer published first is an error. */
  private def commitMarker(f: FileSystem, root: String, batchId: Long): Unit = {
    if (!graft.exec.Publish.file(f, doneMarker(root, batchId), Array.emptyByteArray))
      throw new java.io.IOException(
        s"DedupStore: cannot commit marker for batch $batchId under $root")
  }

  /** Every marked id, ascending: ledger entries and data-bearing ids. */
  private def markedIds(f: FileSystem, root: String): Seq[Long] = {
    val p = new HPath(root)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).map(_.getPath.getName).filter(_.startsWith("done-"))
      .map(_.stripPrefix("done-").toLong).sorted.toSeq
  }

  /** The ids a fold holds, one per line (none for a legacy fold). */
  private def foldHolds(f: FileSystem, root: String, id: Long): Seq[Long] =
    if (!f.exists(holdsFile(root, id))) Nil
    else {
      val in = f.open(holdsFile(root, id))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.toLong).toList
      finally in.close()
    }

  /** Marked ids whose segment dir exists, split into the ones reads see
    * and the ones a committed fold already holds — the sources of a fold
    * whose retire pass a crash cut short (see [[compact]]). */
  private def dataSegments(f: FileSystem,
      root: String): (Seq[Long], Seq[Long]) = {
    val segRoot = new HPath(root, "segments")
    val dirs = if (!f.exists(segRoot)) Set.empty[String]
      else f.listStatus(segRoot).map(_.getPath.getName).toSet
    val withData = markedIds(f, root).filter(id => dirs(id.toString))
    val held = withData.filter(_ >= CompactBase)
      .flatMap(foldHolds(f, root, _)).toSet
    withData.partition(id => !held(id))
  }

  /** Age (ms) of the compaction lease if one is held. The release between
    * exists() and getFileStatus() is a benign race: a vanished lease means
    * the compactor finished — treat as lease-free, don't surface the FNF. */
  private def leaseAge(f: org.apache.hadoop.fs.FileSystem,
      root: String): Option[Long] =
    graft.exec.Lease.age(f, leasePath(root))

  /** Append one batch's rows as segment `batchId`. Returns true if the
    * segment was committed by THIS call, false when the batchId was already
    * committed (replay — store unchanged; its rows may since have been
    * folded, or it may be a [[markCommitted]] entry). Crash ordering: data
    * dir, then marker. Two concurrent appends of the SAME batchId write
    * identical data by contract; the one whose marker rename loses fails
    * loud. Distinct batchIds never contend. */
  def append(spark: SparkSession, root: String, batchId: Long,
      rows: DataFrame): Boolean = {
    requireIngestId(batchId)
    val f = fs(spark, root)
    if (f.exists(doneMarker(root, batchId))) return false
    // compaction exclusion (VERDICT r10 #4): an append while the lease is
    // held FAILS LOUD instead of silently landing a segment mid-maintenance.
    // A stale lease (dead compactor — a LIVE one heartbeats) is reclaimed by
    // age, the Maintenance.recover convention. The lease is checked twice:
    // here, and again immediately before the marker rename below — the
    // rows.write between them is a full Spark job (seconds to minutes), so
    // a compact can acquire the lease mid-write; the re-check shrinks the
    // unguarded window to the rename itself. Even that residual race cannot
    // lose data: compact's merged segment lives in the disjoint
    // [[CompactBase]] id space, so the worst case is a just-committed append
    // segment the concurrent compact doesn't fold — it survives the retire
    // pass untouched and folds next time.
    def failIfCompacting(): Unit = leaseAge(f, root).foreach { age =>
      if (age <= graft.exec.Lease.maxAgeMs(spark))
        throw new IllegalStateException(s"DedupStore at $root: " +
          s"compaction in flight (lease age ${age} ms) — appends during " +
          "the maintenance window are forbidden; retry after compact " +
          "finishes or raise spark.graft.lease.maxAgeMs")
      f.delete(leasePath(root), false)
    }
    failIfCompacting()
    // data first (overwrite clears any half-written retry debris) …
    rows.write.mode("overwrite").parquet(segDir(root, batchId).toString)
    // … lease re-checked NOW (the write may have taken minutes) …
    failIfCompacting()
    // … marker last. A marker that appeared during the write means a
    // concurrent replay of the SAME batch committed first (identical data
    // by contract): yield.
    if (f.exists(doneMarker(root, batchId))) return false
    commitMarker(f, root, batchId)
    true
  }

  /** Commit `ids` as ledger entries with no rows — batches whose content
    * lives in another segment (a rotation's fold), so their replays no-op.
    * No Spark job: per id, unmarked debris at that id is deleted (no later
    * read may pick up a crashed append's rows), then the marker commits as
    * [[append]]'s does. Committed ids are skipped; returns the ids this
    * call committed. */
  def markCommitted(spark: SparkSession, root: String,
      ids: Seq[Long]): Seq[Long] = {
    ids.foreach(requireIngestId)
    val f = fs(spark, root)
    ids.distinct.filterNot(id => f.exists(doneMarker(root, id))).map { id =>
      f.delete(segDir(root, id), true)
      commitMarker(f, root, id)
      id
    }
  }

  /** All data-bearing segments as one DataFrame (empty schema-less reads
    * are the caller's concern: a store must have ≥ 1 such segment). */
  def read(spark: SparkSession, root: String): DataFrame = {
    val (live, _) = dataSegments(fs(spark, root), root)
    require(live.nonEmpty, s"DedupStore at $root has no committed segments")
    spark.read.parquet(live.map(id => segDir(root, id).toString): _*)
  }

  /** The `_upto-<n>` provenance sidecar of a compacted fold, if present
    * (legacy folds predate it). One directory listing. */
  private def foldUpto(f: org.apache.hadoop.fs.FileSystem, root: String,
      id: Long): Option[Long] = {
    val d = segDir(root, id)
    if (!f.exists(d)) None
    else f.listStatus(d).map(_.getPath.getName)
      .collectFirst { case n if n.startsWith("_upto-") =>
        n.stripPrefix("_upto-").toLong }
  }

  /** Time-travel read: the store exactly as it stood after ingest batch
    * `asOfBatch` committed — reproduce yesterday's keep/drop decisions
    * after more ingests landed, audit a disputed drop, bisect a dedup
    * regression. Selects every data-bearing segment with id ≤ asOfBatch,
    * plus any compacted fold whose `_upto` provenance proves it holds
    * only history ≤ asOfBatch (compaction is membership-preserving, so
    * such a fold IS those batches).
    *
    * REFUSES loudly — never silently-partial — when compaction has
    * collapsed the requested point: a fold containing ingests past
    * `asOfBatch` cannot be split back into its inputs, and excluding it
    * would misclassify every probe against the reconstruction. Size
    * compaction cadence to the audit horizon if as-of reads matter. */
  def readAsOf(spark: SparkSession, root: String,
      asOfBatch: Long): DataFrame = {
    val f = fs(spark, root)
    val (live, _) = dataSegments(f, root)
    require(live.nonEmpty,
      s"DedupStore at $root has no committed segments")
    val keep = live.filter { id =>
      if (id <= asOfBatch) true // covers normal ids and at-or-after-the-fold
      else if (id < CompactBase) false // a later ingest: simply not yet there
      else foldUpto(f, root, id) match {
        case Some(u) if u <= asOfBatch => true
        case Some(u) => throw new IllegalStateException(
          s"DedupStore at $root: compacted fold $id holds ingests up to " +
            s"$u — the store as of batch $asOfBatch cannot be " +
            "reconstructed (compaction collapsed that history); audit " +
            s"at asOfBatch >= $u, or schedule compaction outside the " +
            "audit window")
        case None => throw new IllegalStateException(
          s"DedupStore at $root: compacted fold $id predates provenance " +
            s"sidecars — the store as of batch $asOfBatch cannot be " +
            "proven reconstructible; audit at asOfBatch >= the fold id")
      }
    }
    require(keep.nonEmpty,
      s"DedupStore at $root has no committed segment at or before " +
        s"batch $asOfBatch")
    spark.read.parquet(keep.map(id => segDir(root, id).toString): _*)
  }

  /** The parquet path of segment `batchId` while it holds its own rows
    * (None once folded, or for a ledger entry) — for callers that audit
    * one segment (e.g. [[IndexStore.mergeStores]]'s replay check). */
  def segmentPath(spark: SparkSession, root: String,
      batchId: Long): Option[String] = {
    val (live, _) = dataSegments(fs(spark, root), root)
    if (live.contains(batchId)) Some(segDir(root, batchId).toString) else None
  }

  /** The largest ingest id PROVABLY folded into this store's compaction
    * segments — max `_upto` over committed folds, None when no fold
    * carries provenance. The compaction-cadence observable: ingest
    * segments at or below it are already collapsed (only their ledger
    * markers remain), ones above still hold their own rows. */
  def foldedThrough(spark: SparkSession, root: String): Option[Long] = {
    val f = fs(spark, root)
    val us = committedBatches(spark, root).filter(_ >= CompactBase)
      .flatMap(id => foldUpto(f, root, id))
    if (us.isEmpty) None else Some(us.max)
  }

  /** Committed batch ids, ascending — the replay ledger and audit view:
    * every ingest id ever committed, folded or not, plus the live folds. */
  def committedBatches(spark: SparkSession, root: String): Seq[Long] =
    markedIds(fs(spark, root), root)

  /** Retire folded segments: every data dir goes, and so does a fold id's
    * marker (never a replay token) — first, so a crash leaves an unmarked
    * dir rather than a fold marker with no rows. Ingest markers stay. */
  private def retire(f: FileSystem, root: String, ids: Seq[Long]): Unit = {
    ids.filter(_ >= CompactBase).foreach(id =>
      f.delete(doneMarker(root, id), false))
    ids.foreach(id => f.delete(segDir(root, id), true))
  }

  /** Fold the data-bearing segments into ONE new segment and retire the
    * olds — the offline maintenance pass that keeps the multi-path read
    * from accumulating one footer per ingest forever. The merged segment's
    * id lives in the RESERVED [[CompactBase]] space appends can never use,
    * so its data directory is collision-free against any in-flight append
    * by construction. Returns the new segment's batchId (or the sole
    * data-bearing id if the store is already compact).
    *
    * `upToIngest` bounds the fold to an as-of horizon: only ingest
    * segments with id ≤ it fold (plus every existing fold), so
    * [[readAsOf]] keeps working for every point ≥ the fold's `_upto` —
    * the cadence dial [[IndexStore.maintain]] uses. `None` folds all.
    * Folded ingest ids keep their markers ([[committedBatches]] still
    * lists them, their replays no-op); re-folded older folds lose theirs.
    *
    * Crash ordering: (1) merged data written with its `_upto` and
    * `_holds` sidecars, (2) merged marker committed, (3) [[retire]]. A
    * crash before (2) leaves an unmarked dir reads ignore. From (2) on,
    * `_holds` names the fold's sources, so reads skip them even while
    * their dirs remain — readers see exactly the old store or exactly
    * the new one — and the next compact finishes the retire pass
    * instead of folding the sources in a second time.
    *
    * Concurrency is mutual-exclusion-by-lease (VERDICT r10 #4, hardened
    * r12): compact holds a `compacting` lease (first writer wins, so of
    * racing compacts exactly one holds it) for its whole run and HEARTBEATS its
    * mtime every `min(60 s, maxAge/3)`; the stale ceiling
    * ([[graft.exec.Lease.maxAgeMs]], default 30 min) only
    * reclaims a compactor that died mid-run. [[append]] checks the lease
    * before its write and before its marker rename, so a mis-scheduled
    * append fails loud. An append whose final check beat the lease by
    * microseconds is harmless by the disjoint id spaces: its segment is
    * not in this compact's snapshot, survives the retire pass (which
    * deletes only snapshotted ids), and folds next time. */
  def compact(spark: SparkSession, root: String,
      upToIngest: Option[Long] = None): Long = {
    val f = fs(spark, root)
    leaseAge(f, root) match {
      case Some(age) if age <= graft.exec.Lease.maxAgeMs(spark) =>
        throw new IllegalStateException(
          s"DedupStore at $root: another compaction holds the lease " +
            s"(age ${age} ms)")
      case Some(_) => f.delete(leasePath(root), false) // dead compactor
      case None => ()
    }
    // atomic acquire + VERIFIED heartbeat via the shared lease util (the
    // setTimes-no-op object-store fallback and the release/beat
    // serialization live there — graft.exec.Lease)
    val handle = graft.exec.Lease.tryAcquire(f, leasePath(root),
        graft.exec.Lease.intervalFor(graft.exec.Lease.maxAgeMs(spark)))
      .getOrElse(throw new IllegalStateException(
        s"DedupStore at $root: lost the compaction-lease race"))
    try {
      // ids snapshot AFTER the lease: an append that saw the lease cannot
      // commit a marker between this listing and the retire pass below.
      // Sources a committed fold already holds finish an interrupted
      // retire pass (re-folding them would bake in duplicates). Under a
      // horizon bound, newer ingest segments survive untouched
      val (live, held) = dataSegments(f, root)
      retire(f, root, held)
      val ids = live.filter(id =>
        id >= CompactBase || upToIngest.forall(id <= _))
      require(ids.nonEmpty, s"DedupStore at $root has no committed segments" +
        upToIngest.fold("")(u => s" at or below ingest id $u"))
      if (ids.size == 1) return ids.head
      // Build the merged segment from the SNAPSHOT, not a re-listing read():
      // an append whose marker lands between two listings would otherwise be
      // folded into the merge AND survive the retire pass (which deletes only
      // snapshotted ids) — permanent duplication. Reading exactly `ids` makes
      // the folded set and the retired set identical by construction; the
      // racing append's segment simply folds next time (deferred, never dup).
      //
      // The fold is ROW-GROUP-STITCHED when it can be (r16): the
      // snapshotted segments' row groups copy byte-for-byte into one file
      // (no decode, no re-encode; a segment that kept no rows contributes
      // zero blocks), verified against the source footers' row counts.
      // The stitch reads each segment's footer once and declines on schema
      // drift across segments, a cumulative row-group count past 64
      // (stitching never merges row groups, so re-folds would fragment
      // without bound) or a fold past 1 GiB (one stitched file is a
      // sequential single-writer copy — past that, the distributed
      // re-encode is the right shape anyway); a declined fold takes the
      // classic read-and-rewrite, which also resets the row-group count.
      val newId = math.max(ids.max + 1, CompactBase)
      val dstDir = segDir(root, newId)
      val segFiles = ids.flatMap { id =>
        f.listStatus(segDir(root, id)).toSeq
          .filter(graft.exec.AtomicWriter.isDataFile).map(_.getPath)
      }
      f.delete(dstDir, true)
      if (!f.mkdirs(dstDir))
        throw new java.io.IOException(s"DedupStore: cannot create $dstDir")
      if (graft.exec.ParquetStitch.stitch(spark.sessionState.newHadoopConf(),
          segFiles, new HPath(dstDir, "part-stitched.parquet")).isEmpty)
        spark.read.parquet(ids.map(id => segDir(root, id).toString): _*)
          .write.mode("overwrite").parquet(dstDir.toString)
      // provenance sidecar for [[readAsOf]]: the largest INGEST batch id
      // this fold contains (carried forward through re-compactions). The
      // underscore prefix keeps it invisible to the parquet reader; written
      // AFTER the data (overwrite-mode cleared the dir) and BEFORE the
      // marker, so a marked fold always carries its provenance. Written
      // only when EVERY folded fold carries its own `_upto` — folding a
      // provenance-less legacy fold together with new ingests and stamping
      // max(new ids) would let readAsOf silently include unprovable
      // history (wrong slice under non-monotone batch ids); unknown
      // provenance must stay unknown, never guessed, so such a fold stays
      // sidecar-less and readAsOf keeps refusing.
      val foldProvenance = ids.filter(_ >= CompactBase)
        .map(id => foldUpto(f, root, id))
      val upto = ids.filter(_ < CompactBase) ++ foldProvenance.flatten
      if (upto.nonEmpty && foldProvenance.forall(_.isDefined))
        f.create(new HPath(dstDir, s"_upto-${upto.max}"), true).close()
      // committed with the fold: from its marker on, reads skip these ids
      val out = f.create(holdsFile(root, newId), true)
      try out.write(ids.mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
      commitMarker(f, root, newId)
      retire(f, root, ids)
      newId
    } finally handle.release()
  }

  // ------------------------------------------------- fingerprint store

  /** Seed/append the exact-dedup fingerprint store: `fps` must be the
    * batch's surviving fingerprints (the `fp` column of
    * [[Dedup.incrementalExact]]'s output — already distinct within the
    * batch and disjoint from the store by construction), or a corpus's
    * [[Dedup.fingerprintStore]] for batch 0. */
  def appendFingerprints(spark: SparkSession, root: String, batchId: Long,
      fps: DataFrame): Boolean =
    append(spark, root, batchId, fps.select(col("fp")))

  /** The store as [[Dedup.incrementalExact]]'s `store` argument. No
    * distinct(): segments are pairwise disjoint by the append contract,
    * and the anti-join probe is duplicate-tolerant anyway. */
  def readFingerprints(spark: SparkSession, root: String): DataFrame =
    read(spark, root)

  // ---------------------------------------------------- near-dup store

  /** Seed/append the MinHash near-dup store with one batch's signatures:
    * `sigs` = (sid, sig) — [[Dedup.minhashSignatures]] output renamed, or
    * the `sigs` half of [[Dedup.nearDupStore]] for batch 0. Only the
    * k-wide signature is persisted (1× per doc); the 32×-narrower band
    * table is re-derived on read — a pure projection, so the stored bytes
    * stay minimal (the r9 normalization argument, now on disk). */
  def appendNearDupSigs(spark: SparkSession, root: String, batchId: Long,
      sigs: DataFrame): Boolean =
    append(spark, root, batchId, sigs.select(col("sid"), col("sig")))

  /** The store as [[Dedup.incrementalNearDup]]'s `store` argument:
    * (bands, sigs), bands derived from the persisted signatures by the
    * same kernel that built them. */
  def readNearDup(spark: SparkSession, root: String,
      bands: Int = 32): (DataFrame, DataFrame) = {
    val sigs = read(spark, root)
    val banded = sigs.select(col("sid"),
        posexplode(graft.functions.BandHashes(col("sig"), bands)))
      .select(col("pos").as("band"), col("col").as("bh"), col("sid"))
    (banded, sigs)
  }

  // ------------------------------------------------------ embedding store

  /** Seed/append the SEMANTIC near-dup store: `vecs` must carry
    * (sid, s_vec) — [[graft.llm.Similarity.embeddingStore]]'s `vectors`
    * half for batch 0, or a batch's surviving vectors projected the same
    * way. Only the vectors persist; the banded LSH index re-derives on
    * read (the [[readNearDup]] discipline — the index is `tables×` wider
    * than the ids it carries and cheap to rebuild from a narrow scan). */
  def appendVectors(spark: SparkSession, root: String, batchId: Long,
      vecs: DataFrame): Boolean =
    append(spark, root, batchId,
      vecs.select(col("sid"), col("s_vec").cast("array<double>").as("s_vec")))

  /** The store as [[graft.llm.Similarity.incrementalEmbeddingNearDup]]'s
    * `store` argument: (banded, vectors), banded re-derived from the
    * persisted vectors with the same hyperplane family (same dim / bits /
    * tables / seed) that the probe side uses. */
  def readVectors(spark: SparkSession, root: String, dim: Int,
      bits: Int = 8, tables: Int = 2,
      seed: Long = 42L): (DataFrame, DataFrame) =
    graft.llm.Similarity.embeddingStore(
      read(spark, root).select(col("sid").as("vec_id"),
        col("s_vec").as("embedding")),
      dim, bits, tables, seed)

  // ----------------------------------------------------- image-hash store

  /** Seed/append the IMAGE near-dup store: (img_id, ahash) — 8 bytes of
    * 64-bit perceptual hash per image are the ONLY persisted bytes; the
    * band index re-derives on read ([[readNearDup]]'s discipline, at its
    * extreme: the stored row is 100× smaller than a thumbnail). */
  def appendImageHashes(spark: SparkSession, root: String, batchId: Long,
      hashes: DataFrame): Boolean =
    append(spark, root, batchId,
      hashes.select(col("img_id").cast("long").as("img_id"),
        col("ahash").cast("long").as("ahash")))

  /** The store as [[graft.llm.Multimodal.ahashStoreProbe]]'s `store`
    * argument. */
  def readImageHashes(spark: SparkSession, root: String): DataFrame =
    read(spark, root)

  /** Seed/append the VIDEO near-dup store: (vid_id, n_frames, frame_idx,
    * ahash) — the clip's ordered frame-hash signature, 8 bytes per FRAME
    * (a 3-frame clip persists 24 bytes + ids; pixels never land in the
    * store and history frames are never re-decoded). */
  def appendVideoSigs(spark: SparkSession, root: String, batchId: Long,
      sigs: DataFrame): Boolean =
    append(spark, root, batchId,
      sigs.select(col("vid_id").cast("long").as("vid_id"),
        col("n_frames").cast("int").as("n_frames"),
        col("frame_idx").cast("int").as("frame_idx"),
        col("ahash").cast("long").as("ahash")))

  /** The store as [[graft.llm.Multimodal.videoStoreProbe]]'s `store`
    * argument. */
  def readVideoSigs(spark: SparkSession, root: String): DataFrame =
    read(spark, root)

  /** Seed/append the AUDIO near-dup store: (clip_id, n_frames, frame_idx,
    * sig) — the clip's ordered frame sign-pattern signature, 8 bytes per
    * FRAME (PCM samples never land in the store and history clips are
    * never re-decoded). */
  def appendAudioSigs(spark: SparkSession, root: String, batchId: Long,
      sigs: DataFrame): Boolean =
    append(spark, root, batchId,
      sigs.select(col("clip_id").cast("long").as("clip_id"),
        col("n_frames").cast("int").as("n_frames"),
        col("frame_idx").cast("int").as("frame_idx"),
        col("sig").cast("long").as("sig")))

  /** The store as [[graft.llm.Multimodal.audioStoreProbe]]'s `store`
    * argument. */
  def readAudioSigs(spark: SparkSession, root: String): DataFrame =
    read(spark, root)
}
