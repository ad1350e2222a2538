package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.catalog.{PartitionSpec, TableRef}
import graft.exec.Incremental

/** Optional Structured-Streaming execution mode. The reference has no
  * streaming engine (SURVEY.md §2.6): its "microbatch" is batch-over-event-
  * time-windows. This module offers the streaming equivalents Spark makes
  * natural, without changing any batch semantics:
  *
  *  - `microbatchStream`: file-source stream → dynamic partition overwrite
  *    per micro-batch via foreachBatch, `Trigger.AvailableNow` (process the
  *    backlog, then stop) — the streaming twin of Incremental.microbatch;
  *  - `windowedCounts`: watermarked event-time windowed aggregation;
  *  - the store-backed ingest streams (exact / near-dup / semantic /
  *    video / audio dedup, the curation export, the ANN index): every
  *    micro-batch commits into a durable store, whose ledger makes a
  *    replayed batch a no-op.
  *
  * Every stream here runs the one ingest loop [[ingestLoop]]; the six
  * `DedupStore`-backed ones share its ledger skip, [[storeIngestLoop]].
  */
object Streaming {

  /** The one ingest loop: `Trigger.AvailableNow` drains the available
    * backlog of `src` through `checkpointDir`, then stops, handing each
    * micro-batch and its id to `apply`. */
  private def ingestLoop(src: DataFrame, checkpointDir: String)(
      apply: (DataFrame, Long) => Unit): StreamingQuery =
    src.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(apply)
      .start()

  /** [[ingestLoop]] for a stream that commits each batch as
    * [[graft.llm.DedupStore]] segment `<id>`: the store's done markers are
    * the replay ledger, so a batch whose id is committed (a replay, also
    * after a compaction) or that is empty is skipped before any job runs
    * on it. `apply` also gets the committed ids. */
  private def storeIngestLoop(spark: SparkSession, src: DataFrame,
      storeRoot: String, checkpointDir: String)(
      apply: (DataFrame, Long, Seq[Long]) => Unit): StreamingQuery =
    ingestLoop(src, checkpointDir) { (batch, id) =>
      val committed = graft.llm.DedupStore.committedBatches(spark, storeRoot)
      if (!committed.contains(id) && !batch.isEmpty) apply(batch, id, committed)
    }

  /** Read a parquet path as a stream with the schema of its static twin
    * (file streams require an explicit schema). */
  def parquetStream(spark: SparkSession, path: String): DataFrame = {
    val schema = spark.read.parquet(path).schema
    spark.readStream.schema(schema).parquet(path)
  }

  /** Spark's event-time machinery (`withWatermark`, time-interval state
    * eviction) requires TIMESTAMP; naive parquet event times surface as
    * TIMESTAMP_NTZ. With the session pinned to UTC the cast is a lossless
    * wall-clock reinterpretation, so stateful operators cast NTZ inputs up
    * front and restore the source type on output — the operator stays
    * type-transparent to callers and to the oracle (DuckDB reads the same
    * naive parquet as plain TIMESTAMP). */
  private def isNtz(df: DataFrame, c: String): Boolean =
    df.schema(c).dataType == org.apache.spark.sql.types.TimestampNTZType

  private def asEventTime(df: DataFrame, c: String): DataFrame =
    if (isNtz(df, c)) {
      // lossless only under UTC: NTZ→TIMESTAMP interprets the naive wall
      // clock in the session zone. The repo's entry points pin UTC; a
      // misconfigured caller must fail loudly, not get shifted results.
      val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC",
        s"NTZ event-time operators require spark.sql.session.timeZone=UTC " +
          s"(got '$tz'): the NTZ->TIMESTAMP cast would shift wall clocks")
      df.withColumn(c, col(c).cast("timestamp"))
    } else df

  /** THE family contract in one place: every time-driven operator casts NTZ
    * inputs up via [[asEventTime]] and hands its output through this —
    * `cols` re-typed to TIMESTAMP_NTZ exactly when the operator's input was
    * NTZ, so callers always get their own flavor back. Centralized so a new
    * operator can't forget the cast-back half (the round-8 q26 escape was
    * precisely a missed half of this dance). */
  private def restoreFlavor(df: DataFrame, ntz: Boolean,
      cols: String*): DataFrame =
    if (!ntz) df
    else cols.foldLeft(df)((d, c) =>
      d.withColumn(c, col(c).cast("timestamp_ntz")))

  /** Watermarked sliding/tumbling windowed aggregation over an event stream:
    * (window_start, window_end, event_type, n, total_value). Window bounds
    * come back in the source column's timestamp flavor. */
  def windowedCounts(events: DataFrame, tsCol: String, watermark: String,
      windowLen: String): DataFrame = {
    val ntz = isNtz(events, tsCol)
    val out = asEventTime(events, tsCol)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("total_value"))
    restoreFlavor(out, ntz, "window_start", "window_end")
  }

  /** Streaming microbatch: each micro-batch dynamic-overwrites the
    * partitions it touches — identical final state to the batch
    * `Incremental.microbatch`, driven by the stream. `Trigger.AvailableNow`
    * drains the available backlog then stops.
    *
    * Micro-batch boundaries are FILE-based, not event-time based, so one
    * event-time partition can span several micro-batches. A later batch
    * touching a partition this run already wrote must UNION its rows with
    * the partition's current contents — a plain per-batch overwrite would
    * erase the earlier batches' rows. Partitions NOT yet touched this run
    * are replaced outright (that is the overwrite contract: stale rows
    * from previous runs go away).
    *
    * Replay safety: foreachBatch may re-deliver a batch whose write
    * SUCCEEDED but whose checkpoint commit didn't (crash/restart between
    * the two). Re-running the overlap-union then would union the batch's
    * rows with target partitions that already contain those same rows —
    * duplicates. So each applied batch leaves a `done-<id>` marker (listing
    * its touched keys) next to the checkpoint: a re-delivered batch with a
    * done marker is SKIPPED (its effect is already in the target), and the
    * markers rebuild the touched set across restarts, so a resumed backlog
    * keeps unioning instead of erasing earlier batches' rows. A batch that
    * started applying but has no done marker (crash MID-apply) fails loudly
    * — the half-applied overwrite can't be reconciled on a plain parquet
    * sink (that last gap needs a transactional table format). */
  def microbatchStream(spark: SparkSession, src: DataFrame, target: TableRef,
      partition: PartitionSpec, checkpointDir: String): StreamingQuery = {
    import org.apache.hadoop.fs.{Path => HPath}
    val pcols = partition.partitionColumns
    val stateDir = new HPath(checkpointDir, "graft_touched")
    val fs = stateDir.getFileSystem(spark.sessionState.newHadoopConf())
    def done(id: Long) = new HPath(stateDir, s"done-$id")
    def attempt(id: Long) = new HPath(stateDir, s"attempt-$id")
    // done markers are a FILE (common path: keys collected on the driver)
    // or a DIRECTORY of text part-files (wide-batch path: keys written by
    // the executors, never materialized as a driver set/in-list)
    def readKeys(p: HPath): Set[String] =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(_.getPath.getName.startsWith("part-"))
          .flatMap { st =>
            val in = fs.open(st.getPath)
            try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
            finally in.close()
          }.toSet
      else {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSet
        finally in.close()
      }
    // restart recovery: committed batches' keys rebuild the touched set
    val written = scala.collection.mutable.Set[String]()
    if (fs.exists(stateDir))
      fs.listStatus(stateDir).filter(_.getPath.getName.startsWith("done-"))
        .foreach(st => written ++= readKeys(st.getPath))
    ingestLoop(src, checkpointDir) { (batch, id) =>
      if (fs.exists(done(id))) {
        written ++= readKeys(done(id)); () // replay of an applied batch: skip
      } else if (!batch.isEmpty) {
        if (fs.exists(attempt(id)))
          throw new IllegalStateException(
            s"micro-batch $id started applying but never committed " +
              s"(${attempt(id)}) — the target may hold a half-applied " +
              "overwrite; restore from .graft_trash/backup before rerunning")
        fs.create(attempt(id), true).close()
        // a CLEAN in-process failure (the swap is all-or-nothing and
        // rolls back) must clear its attempt marker before rethrowing —
        // otherwise a transient error would permanently poison the
        // checkpoint with a false half-applied alarm. Only a process
        // crash mid-apply leaves the marker for the loud path above.
        try {
          val batchP = graft.exec.AtomicWriter.withPartitionCols(batch, partition)
          val key = graft.exec.AtomicWriter.partitionKey(pcols.map(col))
          val touched = graft.exec.AtomicWriter.touchedKeys(spark, partition, batchP)
          val published = touched match {
            case Some(keys) =>
              val overlap = keys.intersect(written)
              val df =
                if (overlap.isEmpty) batchP
                else batchP.unionByName(spark.table(target.render)
                  .filter(key.isin(overlap.toSeq: _*)))
              Incremental.insertOverwriteDynamic(spark, target, df, partition)
              graft.exec.Publish.file(fs, done(id),
                keys.mkString("\n").getBytes("UTF-8"))
            case None =>
              // WIDE batch (past the touched-partition cap, e.g. hourly ×
              // tenant backfill): the key set never lands on the driver or
              // in an isin expression tree. Overlap = target semi-joined
              // against (batch keys ∩ already-written keys); the done marker
              // is written by the executors as a text-file DIRECTORY.
              import spark.implicits._
              val keysDf = batchP.select(key.as("p")).distinct()
              val writtenDf = written.toSeq.toDF("p")
              val overlapKeys = keysDf.join(writtenDf, Seq("p"), "left_semi")
              val tgt = spark.table(target.render)
              val tgtOverlap = tgt.join(overlapKeys,
                graft.exec.AtomicWriter.partitionKey(pcols.map(tgt(_)))
                  === overlapKeys("p"), "left_semi")
              Incremental.insertOverwriteDynamic(spark, target,
                batchP.unionByName(tgtOverlap), partition)
              val stage = graft.exec.Publish.staging(done(id))
              keysDf.write.text(stage.toString)
              graft.exec.Publish.dirOnce(fs, stage, done(id))
          }
          if (!published)
            throw new java.io.IOException(s"cannot commit marker ${done(id)}")
          fs.delete(attempt(id), false)
          // the wide path re-reads the marker it just wrote (bounded MBs,
          // line-per-key) instead of ever collecting the keys as a set
          written ++= touched.getOrElse(readKeys(done(id)))
          ()
        } catch {
          case e: Throwable =>
            fs.delete(attempt(id), false)
            throw e
        }
      } else {
        fs.mkdirs(stateDir)
        fs.create(done(id), true).close() // empty batch: nothing touched
      }
    }
  }

  /** Drive a streaming query to completion of the available data. */
  def runToCompletion(q: StreamingQuery): Unit = {
    q.awaitTermination()
  }

  /** Streaming ingest dedup against a DURABLE [[graft.llm.DedupStore]] —
    * the production ingest loop, streamed: each micro-batch is
    * incrementally deduplicated against the store (history + every prior
    * committed batch, [[graft.llm.Dedup.incrementalExact]]), its surviving
    * DOCS land in `outDir/batch=<id>`, and its surviving FINGERPRINTS
    * append as store segment `<id>` — whose done marker doubles as the
    * batch's commit token. A replayed batch (restart, task retry,
    * at-least-once upstream) is recognized by the marker and skipped
    * end-to-end, also after a [[graft.llm.DedupStore.compact]] (the
    * marker is a permanent ledger entry); a crash BETWEEN the doc write
    * and the marker re-processes the batch against the unchanged store
    * and overwrites the same batch dir with the same rows. Exactly-once on a plain parquet sink without
    * a transactional table format — the same marker discipline as
    * [[microbatchStream]], with the dedup store itself as the ledger.
    *
    * Contract: seed the store with a NEGATIVE batchId (e.g. −1,
    * `DedupStore.appendFingerprints(spark, root, -1L, corpusFps)`) so
    * stream batch ids (0, 1, …) never collide with the seed segment.
    * Unlike [[dedupStream]] (watermarked per-key state for replays within
    * a time horizon), this form keeps NO state in the streaming engine —
    * dedup state IS the store, so it survives restarts, spans arbitrary
    * time gaps, and is shared with batch ingest paths. */
  def dedupIngestStream(spark: SparkSession, src: DataFrame,
      storeRoot: String, outDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text"): StreamingQuery =
    storeIngestLoop(spark, src, storeRoot, checkpointDir) {
      (batch, id, _) =>
        val kept = graft.llm.Dedup.incrementalExact(batch,
            graft.llm.DedupStore.readFingerprints(spark, storeRoot),
            idCol, textCol)
          .localCheckpoint() // feeds the doc semi-join AND the append
        batch.join(kept.select(col(idCol)), Seq(idCol), "left_semi")
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
        graft.llm.DedupStore.appendFingerprints(spark, storeRoot, id, kept)
    }

  /** Streaming EXPORT pipeline — the incremental form of the batch
    * curation-export DAG (p04): each micro-batch flows quality gate →
    * incremental exact dedup against the durable fingerprint store
    * ([[graft.llm.Dedup.incrementalExact]] — anti-join on 16-byte
    * fingerprints, shuffle ∝ batch + store fps, historical text never
    * rescanned) → token count + content-hash shard assignment →
    * SHARD-PARTITIONED parquet export under `outDir/batch=<id>/shard=<s>`,
    * and the surviving fingerprints append as store segment `<id>` — the
    * done marker is the batch's commit token and outlives compaction, so
    * a replayed batch skips end-to-end, a crash between the export write
    * and the marker re-probes the unchanged store and overwrites the same
    * batch dir with the same rows, and the curated corpus is NEVER re-curated: at
    * 100 TB the export runs once per ingested slab, not once per corpus.
    * The shard assignment is pure content hash (first 4 md5 nibbles of
    * `saltPrefix ++ text` mod `shards`), so shard membership is stable
    * across batches, restarts, and replans — downstream training readers
    * can consume shards while later batches still append. */
  def exportIngestStream(spark: SparkSession, src: DataFrame,
      storeRoot: String, outDir: String, checkpointDir: String,
      minQuality: Double = 0.3, shards: Int = 8, saltPrefix: String = "p05",
      idCol: String = "doc_id", textCol: String = "text"): StreamingQuery =
    storeIngestLoop(spark, src, storeRoot, checkpointDir) {
      (batch, id, committed) =>
        val kept = batch.filter(
          graft.llm.TextOps.qualityScore(col(textCol)) >= minQuality)
        // bootstrap-friendly: a brand-new pipeline's first batch sees an
        // EMPTY store, not a missing-segment error (no seeding ceremony)
        val store = if (committed.isEmpty)
          graft.llm.Dedup.fingerprintStore(batch.limit(0), textCol)
        else graft.llm.DedupStore.readFingerprints(spark, storeRoot)
        val newFps = graft.llm.Dedup.incrementalExact(kept, store,
            idCol, textCol)
          .localCheckpoint() // feeds the export semi-join AND the append
        kept.join(newFps.select(col(idCol)), Seq(idCol), "left_semi")
          .select(col(idCol), col(textCol),
            graft.llm.TextOps.tokenCount(col(textCol)).cast("long")
              .as("n_tokens"),
            pmod(conv(substring(md5(concat(lit(saltPrefix),
              col(textCol))), 1, 4), 16, 10).cast("long"),
              lit(shards.toLong)).cast("int").as("shard"))
          .write.partitionBy("shard").mode("overwrite")
          .parquet(s"$outDir/batch=$id")
        graft.llm.DedupStore.appendFingerprints(spark, storeRoot, id,
          newFps)
    }

  /** The NEAR-dup sibling of [[dedupIngestStream]] — streaming ingest
    * deduplication against the durable MinHash signature store: each
    * micro-batch probes [[graft.llm.DedupStore.readNearDup]]
    * ([[graft.llm.Dedup.incrementalNearDup]] — banded bucket probe +
    * signature re-verify, shuffle ∝ batch, historical text never
    * rescanned), survivors' DOCS land in `outDir/batch=<id>` and their
    * SIGNATURES append as store segment `<id>`, whose done marker is the
    * batch's commit token. Same exactly-once discipline as the exact
    * form: a replayed batch is marker-skipped end-to-end, before or after
    * a store compaction; a crash between the doc write and the marker
    * re-probes the unchanged store and overwrites the same batch dir with
    * the same rows. Within-batch
    * near-dups are intentionally NOT collapsed here (both survive and
    * both sign the store — a periodic [[graft.llm.Dedup
    * .minhashNearDupPairs]] sweep is the intra-batch pass); dedup state
    * IS the store, shared with the batch ingest path (d21) and alive
    * across restarts and arbitrary time gaps.
    *
    * Contract: seed the store with a NEGATIVE batchId
    * (`DedupStore.appendNearDupSigs(spark, root, -1L, corpusSigs)`) so
    * stream batch ids never collide with the seed segment; `k`/`bands`
    * must match the seed's signature shape. */
  def nearDupIngestStream(spark: SparkSession, src: DataFrame,
      storeRoot: String, outDir: String, checkpointDir: String,
      threshold: Double = 0.8, k: Int = 128, bands: Int = 32,
      idCol: String = "doc_id", textCol: String = "text"): StreamingQuery =
    storeIngestLoop(spark, src, storeRoot, checkpointDir) {
      (batch, id, _) =>
        val flags = graft.llm.Dedup.incrementalNearDup(batch,
            graft.llm.DedupStore.readNearDup(spark, storeRoot, bands),
            threshold, k, bands, idCol, textCol)
          .localCheckpoint() // feeds the doc semi-join AND the signing
        val survivors = batch.join(
          flags.filter(!col("is_dup")).select(col(idCol)),
          Seq(idCol), "left_semi")
          .localCheckpoint() // one slab: sink write + signature append
        survivors.write.mode("overwrite").parquet(s"$outDir/batch=$id")
        graft.llm.DedupStore.appendNearDupSigs(spark, storeRoot, id,
          graft.llm.Dedup.minhashSignatures(survivors, k, idCol, textCol)
            .select(col(idCol).as("sid"), col("sig")))
    }

  /** Streaming SEMANTIC near-dup ingest — the embedding sibling of
    * [[nearDupIngestStream]], same commit discipline: each micro-batch
    * probes the durable vector store
    * ([[graft.llm.Similarity.incrementalEmbeddingNearDup]] over
    * [[graft.llm.DedupStore.readVectors]] — LSH bucket probe + exact
    * cosine verify, shuffle ∝ batch), survivors land under
    * `outDir/batch=<id>` and their VECTORS append as segment `id` — the
    * store's done marker is the batch's commit token and outlives
    * compaction, so a replayed batch (marker present) skips end-to-end
    * and dedup state survives restarts, spans arbitrary gaps, and is
    * shared with the batch ingest path (d25). `bits` is the d24 cost dial — size it with the store. */
  def semanticIngestStream(spark: SparkSession, src: DataFrame,
      storeRoot: String, outDir: String, checkpointDir: String,
      threshold: Double = 0.95, dim: Int = 64, bits: Int = 12,
      tables: Int = 2, seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding"): StreamingQuery =
    storeIngestLoop(spark, src, storeRoot, checkpointDir) {
      (batch, id, _) =>
        val flags = graft.llm.Similarity.incrementalEmbeddingNearDup(batch,
            graft.llm.DedupStore.readVectors(spark, storeRoot, dim, bits,
              tables, seed),
            threshold, dim, bits, tables, seed, idCol, vecCol)
          .localCheckpoint() // feeds the semi-join AND the append
        val survivors = batch.join(
          flags.filter(!col("is_dup")).select(col(idCol)),
          Seq(idCol), "left_semi")
          .localCheckpoint() // one slab: sink write + vector append
        survivors.write.mode("overwrite").parquet(s"$outDir/batch=$id")
        graft.llm.DedupStore.appendVectors(spark, storeRoot, id,
          survivors.select(col(idCol).as("sid"), col(vecCol).as("s_vec")))
    }

  /** Streaming ANN index ingest — the streaming sibling of
    * [[graft.llm.IndexStore.appendCodes]], completing the store modality
    * matrix (exact fp / MinHash / semantic / image / VECTOR INDEX): each
    * microbatch is encoded against the store's COMMITTED quantizer (train
    * precedes the stream — the artifact is immutable, so every batch of a
    * long-running ingest quantizes identically) and appended as
    * inverted-list segment `batchId`. Exactly-once by the
    * [[graft.llm.DedupStore.append]] replay contract: a restarted query
    * re-offers committed batch ids and the append no-ops before any
    * write, so the index is byte-stable under full-backlog replay, also
    * after [[graft.llm.IndexStore.compactCodes]] (folded ids stay
    * committed). Batch cost ∝ batch — encode is a single projection of
    * two compiled kernels (centroid assignment, PQ encode) that hold the
    * quantizer as plan objects; the only history touched is the kilobyte
    * quantizer load. */
  def indexIngestStream(spark: SparkSession, src: DataFrame,
      storeRoot: String, checkpointDir: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): StreamingQuery =
    ingestLoop(src, checkpointDir) { (batch, id) =>
      if (!batch.isEmpty)
        graft.llm.IndexStore.appendCodes(spark, storeRoot, id, batch,
          idCol, vecCol)
    }

  /** SELF-HEALING streaming index ingest — [[indexIngestStream]] with the
    * drift guard in the loop ([[graft.llm.IndexStore.ingestWithDriftGuard]]):
    * every micro-batch is appended through the ALIAS's live store unless
    * its cell-assignment distribution says the committed quantizer no
    * longer fits, in which case the batch triggers a retrain-rotate
    * (fresh fit on history + batch, atomic alias cutover) instead of
    * appending garbage codes — the index notices its own staleness and
    * heals inside the ingest pipeline, with searches live through the
    * cutover. Exactly-once across rotation and compaction: batch ids are
    * committed as ledger markers in the new root, and compaction keeps
    * them, so a restarted stream cannot double-index through a cutover
    * (the replay no-ops on either side).
    * `corpus` is the source-of-truth vector table the rotate re-encodes
    * from (the store itself holds codes, never vectors). The first batch
    * bootstraps the initial store. */
  def autoRotateIndexIngest(spark: SparkSession, src: DataFrame,
      alias: String, corpus: DataFrame, checkpointDir: String,
      dim: Int, nlist: Int = 16, m: Int = 8, codebookSize: Int = 16,
      seed: Long = 42L, idCol: String = "vec_id",
      vecCol: String = "embedding", minChi2: Double = 100.0,
      calibFactor: Double = 20.0, priorFactor: Double = 10.0,
      warmupTvFloor: Double = 0.3): StreamingQuery =
    ingestLoop(src, checkpointDir) { (batch, id) =>
      if (!batch.isEmpty)
        graft.llm.IndexStore.ingestWithDriftGuard(spark, alias, id,
          batch, corpus, dim, nlist, m, codebookSize, seed, idCol,
          vecCol, minChi2, calibFactor, priorFactor, warmupTvFloor)
    }

  /** Streaming VIDEO ingest dedup — the video sibling of
    * [[nearDupIngestStream]], completing streaming parity for the store
    * modality matrix (exact fp / MinHash / semantic / image / index /
    * VIDEO): each micro-batch's clips decode ONCE into ordered per-frame
    * aHash signatures ([[graft.llm.Multimodal.videoAhashes]] — the only
    * pixel-touching step, reused for both the probe and the append),
    * probe the durable frame-hash store
    * ([[graft.llm.Multimodal.videoStoreProbe]] — frame-0 band buckets,
    * frame-aligned Hamming verify, pigeonhole-exact recall; shuffle ∝
    * batch + probed buckets), survivors' CLIPS land under
    * `outDir/batch=<id>` and their SIGNATURES (8 bytes per frame, never
    * pixels) append as store segment `<id>` — the done marker is the
    * batch's commit token and outlives compaction, so a replayed batch
    * skips end-to-end and dedup state survives restarts, spans arbitrary
    * gaps, and is shared with the batch probe path (mm10). Seed history with a NEGATIVE
    * batchId (`DedupStore.appendVideoSigs(spark, root, -1L, sigs)`). */
  def videoIngestStream(spark: SparkSession, src: DataFrame,
      storeRoot: String, outDir: String, checkpointDir: String,
      maxHamming: Int = 3, bands: Int = 4, idCol: String = "id",
      payloadCol: String = "payload"): StreamingQuery =
    storeIngestLoop(spark, src, storeRoot, checkpointDir) {
      (batch, id, _) =>
        val sigs = graft.llm.Multimodal.videoAhashes(batch, idCol,
            payloadCol)
          .localCheckpoint() // decode once: feeds the probe AND the append
        val keptIds = graft.llm.Multimodal.videoStoreProbe(sigs,
            graft.llm.DedupStore.readVideoSigs(spark, storeRoot),
            maxHamming, bands)
          .filter(col("kept")).select(col("id"))
          .localCheckpoint() // feeds the clip semi-join AND the signing
        batch.select(col(idCol).cast("long").as("id"),
            col(payloadCol).as("payload"))
          .join(keptIds, Seq("id"), "left_semi")
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
        graft.llm.DedupStore.appendVideoSigs(spark, storeRoot, id,
          sigs.join(keptIds, Seq("id"), "left_semi")
            .select(col("id").as("vid_id"), col("n_frames"),
              col("frame_idx"), col("ahash")))
    }

  /** Streaming AUDIO ingest dedup — the audio sibling of
    * [[videoIngestStream]], completing streaming parity for the store
    * modality matrix (exact fp / MinHash / semantic / index / video /
    * AUDIO): each micro-batch's clips decode ONCE into ordered per-frame
    * sign-pattern fingerprints ([[graft.llm.Multimodal.audioSignSigs]] —
    * the only PCM-touching step, reused for both the probe and the
    * append), probe the durable frame-sig store
    * ([[graft.llm.Multimodal.audioStoreProbe]] — frame-0
    * signature-equality candidates, frame-aligned equality verify, recall
    * exactly 1.0; shuffle ∝ batch + probed buckets), survivors' CLIPS
    * land under `outDir/batch=<id>` and their SIGNATURES (8 bytes per
    * frame, never samples) append as store segment `<id>` — the done
    * marker is the batch's commit token and outlives compaction, so a
    * replayed batch skips end-to-end and dedup state survives restarts,
    * spans arbitrary gaps, and is shared with the batch probe path (mm11). Seed history with a
    * NEGATIVE batchId (`DedupStore.appendAudioSigs(spark, root, -1L,
    * sigs)`). */
  def audioIngestStream(spark: SparkSession, src: DataFrame,
      storeRoot: String, outDir: String, checkpointDir: String,
      idCol: String = "id", payloadCol: String = "payload"): StreamingQuery =
    storeIngestLoop(spark, src, storeRoot, checkpointDir) {
      (batch, id, _) =>
        val sigs = graft.llm.Multimodal.audioSignSigs(batch, idCol,
            payloadCol)
          .localCheckpoint() // decode once: feeds the probe AND the append
        val keptIds = graft.llm.Multimodal.audioStoreProbe(sigs,
            graft.llm.DedupStore.readAudioSigs(spark, storeRoot))
          .filter(col("kept")).select(col("id"))
          .localCheckpoint() // feeds the clip semi-join AND the signing
        batch.select(col(idCol).cast("long").as("id"),
            col(payloadCol).as("payload"))
          .join(keptIds, Seq("id"), "left_semi")
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
        graft.llm.DedupStore.appendAudioSigs(spark, storeRoot, id,
          sigs.join(keptIds, Seq("id"), "left_semi")
            .select(col("id").as("clip_id"), col("n_frames"),
              col("frame_idx"), col("sig")))
    }

  // --------------------------------------------------------- stateful ops

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class SessionState(start: Long, last: Long, n: Long)
  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)

  /** Microseconds since epoch of a Timestamp — `getTime` alone is
    * millisecond-truncated; the sub-ms micros live in the nanos field. */
  private def microsOf(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  private def timestampOfMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Gap-based sessionization via `flatMapGroupsWithState`: events of a user
    * more than `gap` apart start a new session; sessions are emitted when
    * the event-time watermark passes their close. Custom keyed state — the
    * construct the built-in windowed aggregations can't express. Session
    * state and bounds are kept at MICROSECOND precision (the testdata's
    * native resolution; `Timestamp.getTime` alone would truncate to ms and
    * diverge from the batch twin); only the watermark comparisons run at
    * Spark's millisecond watermark granularity. */
  def sessionize(events: org.apache.spark.sql.Dataset[SessionEvent],
      gap: java.time.Duration,
      watermark: String = "10 minutes"): org.apache.spark.sql.Dataset[Session] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gap.toMillis * 1000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[SessionEvent],
            state: GroupState[List[SessionState]]) =>
          // Insert an event into the start-ascending session list: it joins
          // the session whose [start−gap, last+gap] envelope contains it
          // (NOT merely the newest session — a late-but-above-watermark
          // event must extend the session it chronologically belongs to,
          // and may lower its start), and a grown session merges with its
          // successor when the gap between them closes.
          def insert(sessions: List[SessionState], t: Long): List[SessionState] = {
            val (before, rest) = sessions.span(s => s.last + gapUs < t)
            rest match {
              case h :: tail if t >= h.start - gapUs =>
                val m = SessionState(math.min(h.start, t), math.max(h.last, t), h.n + 1)
                tail match {
                  case nxt :: t2 if nxt.start - gapUs <= m.last =>
                    before ++ (SessionState(m.start, math.max(m.last, nxt.last),
                      m.n + nxt.n) :: t2)
                  case _ => before ++ (m :: tail)
                }
              case _ => before ++ (SessionState(t, t, 1) :: rest)
            }
          }
          var sessions = state.getOption.getOrElse(Nil)
          batch.map(e => microsOf(e.ts)).toSeq.sorted.foreach { t =>
            sessions = insert(sessions, t)
          }
          // emit sessions closed by the watermark; keep the rest as state
          // (the watermark is ms-granular: a session last-active inside the
          // watermark's own millisecond stays OPEN — conservative, never
          // early-emits)
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (closed, open) = sessions.partition(s => s.last + gapUs < wmUs)
          if (open.isEmpty) { if (state.exists) state.remove() }
          else {
            state.update(open)
            // wake up when the OLDEST open session becomes closable (must be
            // > current watermark); scheduling off the newest would strand
            // early sessions of users who also have late events. Timeout is
            // ms-granular: round UP so the timeout never fires before the
            // session is actually closable.
            val closableMs =
              Math.floorDiv(open.map(_.last).min + gapUs + 999L, 1000L)
            state.setTimeoutTimestamp(
              math.max(closableMs, state.getCurrentWatermarkMs() + 1))
          }
          closed.iterator.map(s => Session(user,
            timestampOfMicros(s.start), timestampOfMicros(s.last), s.n))
      }
  }

  /** DataFrame entry to the typed [[sessionize]]: accepts (user_id, ts) in
    * either timestamp flavor — the typed encoder requires TIMESTAMP, so NTZ
    * inputs cast up via [[asEventTime]] and the session bounds come back in
    * the source flavor (the family contract; TsFlavorSpec pins it). */
  def sessionizeStream(events: DataFrame, gap: java.time.Duration,
      watermark: String = "10 minutes"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val out = sessionize(
      asEventTime(events.select(col("user_id"), col("ts")), "ts")
        .as[SessionEvent],
      gap, watermark).toDF()
    restoreFlavor(out, isNtz(events, "ts"), "session_start", "session_end")
  }

  /** Streaming exact deduplication on key columns with bounded state:
    * duplicates arriving within the watermark horizon are dropped, and
    * per-key state is evicted once the watermark passes it — the streaming
    * twin of `Dedup.exact`/`dropDuplicates`, and the standard ingest-side
    * dedup for training-data pipelines (unbounded-state `dropDuplicates`
    * on a stream would OOM; the watermark bound is what scales). */
  def dedupStream(events: DataFrame, tsCol: String, watermark: String,
      keys: Seq[String]): DataFrame = {
    val out = asEventTime(events, tsCol).withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)
    restoreFlavor(out, isNtz(events, tsCol), tsCol)
  }

  /** Watermarked stream-stream interval join: each left event pairs with
    * right events of the same key whose timestamp lies in
    * [left.ts − before, left.ts + after]. Watermarks on BOTH sides bound
    * the join state Spark must retain (without them the state grows
    * unboundedly — the classic stream-join footgun at scale). Inputs must
    * carry (key, ts) columns with the given names; remaining columns pass
    * through prefixed l_/r_. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      tsCol: String, watermark: String,
      before: String, after: String): DataFrame = {
    def tagged(df: DataFrame, p: String): DataFrame =
      df.columns.foldLeft(df) { (d, c) =>
        if (c == key || c == tsCol) d else d.withColumnRenamed(c, p + c)
      }
    val l = asEventTime(tagged(left, "l_").withColumnRenamed(tsCol, "l_ts"),
      "l_ts").withWatermark("l_ts", watermark)
    val r = asEventTime(tagged(right, "r_").withColumnRenamed(key, "r_key")
      .withColumnRenamed(tsCol, "r_ts"), "r_ts")
      .withWatermark("r_ts", watermark)
    val joined = l.join(r,
      col(key) === col("r_key") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $before") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $after"))
      .drop("r_key")
    // each side's output flavor follows ITS OWN input (mixed-flavor inputs
    // are legal; keying both on the left would silently re-type r_ts)
    restoreFlavor(restoreFlavor(joined, isNtz(left, tsCol), "l_ts"),
      isNtz(right, tsCol), "r_ts")
  }

  /** Batch twin of `intervalJoin` (same shape, no watermarks). */
  def intervalJoinBatch(left: DataFrame, right: DataFrame, key: String,
      tsCol: String, before: String, after: String): DataFrame = {
    def tagged(df: DataFrame, p: String): DataFrame =
      df.columns.foldLeft(df) { (d, c) =>
        if (c == key || c == tsCol) d else d.withColumnRenamed(c, p + c)
      }
    val l = tagged(left, "l_").withColumnRenamed(tsCol, "l_ts")
    val r = tagged(right, "r_").withColumnRenamed(key, "r_key")
      .withColumnRenamed(tsCol, "r_ts")
    l.join(r,
      col(key) === col("r_key") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $before") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $after"))
      .drop("r_key")
  }

  /** Batch twin of `sessionize` (for parity checks): gap-based session
    * assignment with window functions. Accepts either timestamp flavor —
    * `unix_millis` rejects TIMESTAMP_NTZ, so NTZ inputs cast up via
    * [[asEventTime]] and the session bounds come back in the source
    * column's flavor (same contract as the streaming operators). */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ntz = isNtz(events, "ts")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val out = asEventTime(events, "ts")
      .withColumn("prev_ts", org.apache.spark.sql.functions.lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev_ts")) > gapMinutes * 60000L, 1)
          .otherwise(0))
      .withColumn("session_idx",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .drop("session_idx")
    restoreFlavor(out, ntz, "session_start", "session_end")
  }
}
