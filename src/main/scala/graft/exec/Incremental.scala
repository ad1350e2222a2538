package graft.exec

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.{PartitionSpec, TableRef}

/** The five incremental-update strategies of the reference
  * (macros/materializations/incremental/), re-expressed as join rewrites on
  * DataFrames with partition-scoped atomic writes.
  *
  * Scale notes (100 TB discipline):
  *  - merge/delete+insert on an UNpartitioned table must rewrite the table —
  *    unavoidable without a lakehouse format; on a PARTITIONED table we
  *    compute the touched-partition set (source partitions ∪ partitions of
  *    matched target rows, via a column-pruned key scan) and rewrite only
  *    those partitions, through [[AtomicWriter.rewrite]].
  *  - the source side of a merge is typically ≪ target; AQE/broadcast picks
  *    broadcast-hash for the anti/inner joins automatically.
  */
object Incremental {

  private val PRED = "__graft_pred"
  private val SMARK = "__graft_src"

  private def keyCond(tgt: DataFrame, src: DataFrame, keys: Seq[String]): Column =
    keys.map(k => tgt(k) <=> src(k)).reduce(_ && _)

  /** Scope the target scan to the touched partitions BEFORE joining — an
    * explicit partition-pruning predicate on the scan, rather than relying
    * on a post-join filter pushing down through joins/generates. At 100 TB
    * this is the difference between reading the delta's partitions and
    * reading the table. */
  private def scoped(tgt: DataFrame, partition: PartitionSpec,
      touched: Option[Set[String]]): DataFrame =
    (partition.partitionColumns, touched) match {
      case (pcols, Some(parts)) if pcols.nonEmpty =>
        tgt.filter(AtomicWriter.partitionKey(pcols.map(col))
          .isin(parts.toSeq: _*))
      case _ => tgt
    }

  /** `merge` (M4): upsert on unique keys.
    * No keys ⇒ plain append (ref merge.sql:52-58).
    * `updateColumns`/`excludeColumns` subset the UPDATE SET; partition
    * columns are excluded from updates by default so rows never move across
    * partitions (ref merge.sql:7-16).
    * `predicates` restrict which target rows are merge candidates — they
    * live in the MERGE ON clause alongside key equality (merge.sql:21-38),
    * so a source row keyed to a pred-FALSE target row is not-matched and
    * gets INSERTED (the documented incremental_predicates duplicate footgun
    * — kept verbatim for parity).
    *
    * Physical shape (100 TB discipline): the target scan is scoped to the
    * touched partitions BEFORE joining, then (a) one LEFT join
    * tgt→src does update-and-keep in a single pass — broadcast-hash when
    * the delta is small, so the big side never shuffles — and (b) one
    * keys-only anti join emits the inserts (column-pruned target scan).
    * A full-outer formulation would be a single join but cannot broadcast
    * (Spark has no broadcast full-outer hash join) and would shuffle every
    * touched target row. */
  def merge(spark: SparkSession, target: TableRef, src: DataFrame,
      uniqueKey: Seq[String],
      partition: PartitionSpec = PartitionSpec.None,
      updateColumns: Seq[String] = Nil,
      excludeColumns: Seq[String] = Nil,
      predicates: Seq[Column] = Nil): Unit = {
    if (uniqueKey.isEmpty) { AtomicWriter.append(spark, src, target, partition); return }
    val tgt = spark.table(target.render)
    // MERGE … UPDATE SET rejects an unknown column; so does updateColumns
    val missing = updateColumns.filterNot(tgt.columns.contains)
    require(missing.isEmpty,
      s"merge: updateColumns ${missing.mkString(", ")} not in ${target.render}")
    // standard MERGE raises on multi-match; silently fanning the target row
    // out (one copy per duplicate source key) would permanently duplicate
    // "unique"-keyed rows and compound on every later merge. The guard RIDES
    // the jobs the merge already runs — a window count over the source keys,
    // raised from the first key column (every downstream branch projects the
    // keys, so column pruning can never drop the check) — instead of being a
    // whole extra aggregation pass over the delta.
    val srcP = guardDuplicateKeys(
      AtomicWriter.withPartitionCols(src, partition), uniqueKey)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dataCols = tgt.columns.toSeq
      val pcols = partition.partitionColumns.toSet
      val updatable: Seq[String] = {
        val base = if (updateColumns.nonEmpty) updateColumns
          else dataCols.filterNot(c => uniqueKey.contains(c) || pcols.contains(c))
        base.filterNot(excludeColumns.contains)
      }
      val touched = touchedPartitions(spark, tgt, srcP, uniqueKey, partition)
      // incremental_predicates reference TARGET rows (reference contract);
      // evaluate them on the target frame alone as a boolean flag column so
      // unqualified col("x") never hits AMBIGUOUS_REFERENCE against src
      // columns of the same name. NULL predicate ⇒ not a merge candidate.
      val tgtF = scoped(tgt, partition, touched).withColumn(PRED,
        coalesce(predicates.foldLeft(lit(true))(_ && _), lit(false)))
      val wholeRowUpdate = partition.partitionColumns.isEmpty &&
        updatable.toSet == dataCols.filterNot(uniqueKey.contains).toSet
      val result = if (wholeRowUpdate) {
        // Degenerate single-pass form: when the update set is the WHOLE
        // non-key row and no partition column pins matched rows to target
        // values, a matched row's merged value IS the source row — so
        // MERGE = src ∪ (tgt rows not matched by a pred-true candidate):
        // ONE anti join over the target instead of left-join + anti-join.
        // merge.sql's pred-false footgun is preserved: those target rows
        // survive the anti join AND their source rows ride the union.
        // (Partitioned targets can't take this path: matched rows must
        // keep the TARGET's partition values, which the source may differ
        // on.) The dup-key guard still fires — srcP's key columns carry it
        // through both the anti join's build side and the union. Known
        // divergence: a target already CORRUPT with duplicate unique_key
        // rows collapses to one row here (SQL MERGE would update each) —
        // the whole-row update makes those fanout copies identical anyway.
        val kept = tgtF.join(srcP.select(uniqueKey.map(srcP(_)): _*),
          keyCond(tgtF, srcP, uniqueKey) && tgtF(PRED), "left_anti")
          .select(dataCols.map(col): _*)
        kept.unionByName(srcP.select(dataCols.map(col): _*))
      } else {
        val srcM = srcP.withColumn(SMARK, lit(1))
        // (a) update-and-keep in ONE pass: matched-and-pred rows take the
        // source's updatable columns, everything else keeps target values
        val hit = srcM(SMARK).isNotNull && tgtF(PRED)
        val joined = tgtF.join(srcM, keyCond(tgtF, srcM, uniqueKey), "left")
        val upserted = joined.select(dataCols.map { c =>
          (if (updatable.contains(c)) when(hit, srcM(c)).otherwise(tgtF(c))
           else tgtF(c)).as(c)
        }: _*)
        // (b) NOT-MATCHED source rows, via a keys-only (column-pruned) anti
        // join against the pred-true target keys
        val candidateKeys = tgtF.filter(tgtF(PRED))
          .select(uniqueKey.map(tgtF(_)): _*)
        val inserted = srcP.join(candidateKeys,
          uniqueKey.map(k => srcP(k) <=> candidateKeys(k)).reduce(_ && _),
          "left_anti")
          .select(dataCols.map(col): _*)
        upserted.unionByName(inserted)
      }
      AtomicWriter.rewrite(spark, result, target, partition, touched)
    } finally srcP.unpersist()
  }

  /** `delete+insert` (M5): delete target rows whose key appears in source
    * (optionally restricted by predicates), then insert all source rows.
    * Ref merge.sql:61-117 (multi-key tuple-IN form). */
  def deleteInsert(spark: SparkSession, target: TableRef, src: DataFrame,
      uniqueKey: Seq[String],
      partition: PartitionSpec = PartitionSpec.None,
      predicates: Seq[Column] = Nil): Unit = {
    if (uniqueKey.isEmpty) { AtomicWriter.append(spark, src, target, partition); return }
    val tgt = spark.table(target.render)
    val srcP = AtomicWriter.withPartitionCols(src, partition)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val touched = touchedPartitions(spark, tgt, srcP, uniqueKey, partition)
      // predicates resolved against the target frame only (see merge)
      val tgtF = scoped(tgt, partition, touched).withColumn(PRED,
        coalesce(predicates.foldLeft(lit(true))(_ && _), lit(false)))
      // anti join needs no pre-distinct right side (hash build dedups)
      val kept = tgtF.join(srcP.select(uniqueKey.map(srcP(_)): _*),
        keyCond(tgtF, srcP, uniqueKey) && tgtF(PRED), "left_anti")
        .select(tgt.columns.map(col).toIndexedSeq: _*)
      val inserted = srcP.select(tgt.columns.map(col).toIndexedSeq: _*)
      AtomicWriter.rewrite(spark, kept.unionByName(inserted), target, partition,
        touched)
    } finally srcP.unpersist()
  }

  /** `append` (M6): INSERT INTO, position-based, partition cols last. */
  def append(spark: SparkSession, target: TableRef, src: DataFrame,
      partition: PartitionSpec = PartitionSpec.None): Unit =
    AtomicWriter.append(spark, src, target, partition)

  /** `insert_overwrite` (M7) dynamic flavor: replace exactly the partitions
    * present in the source. Ref insert_overwrite.sql:65-81. */
  def insertOverwriteDynamic(spark: SparkSession, target: TableRef,
      src: DataFrame, partition: PartitionSpec): Unit = {
    require(partition.partitionColumns.nonEmpty,
      "insert_overwrite requires partition_by (ref insert_overwrite.sql:4-9)")
    AtomicWriter.overwritePartitions(spark,
      AtomicWriter.withPartitionCols(src, partition), target, partition)
  }

  /** `insert_overwrite` static flavor: replace exactly the LISTED partitions;
    * source rows outside them are dropped. Ref insert_overwrite.sql:39-63. */
  def insertOverwriteStatic(spark: SparkSession, target: TableRef,
      src: DataFrame, partition: PartitionSpec,
      partitions: Seq[String]): Unit = {
    require(partition.partitionColumns.size == 1,
      "static insert_overwrite lists values of a single partition column")
    val pcol = partition.partitionColumns.head
    // The listed partitions are the OWNED set: overwritePartitions' touched
    // diff drops any listed partition the source stages no rows for
    // (registration + files) — one code path, and no separate
    // present-partition collect job + per-partition DDL round trips.
    // Filtering goes through the canonical partitionKey encoding, NOT a
    // bare isin on the raw column: isin is 3VL and can never match NULL
    // rows, which would silently discard a listed NULL partition's new
    // rows AND delete its old files via the emptied diff.
    val owned = partitions.map(p =>
      if (p == null || p.isEmpty) AtomicWriter.HiveDefaultPartition else p).toSet
    val srcP = AtomicWriter.withPartitionCols(src, partition)
      .filter(AtomicWriter.partitionKey(Seq(col(pcol))).isin(owned.toSeq: _*))
    AtomicWriter.overwritePartitions(spark, srcP, target, partition, Some(owned))
  }

  /** `microbatch` (M8): batch-over-event-time-windows; each batch is an
    * insert_overwrite of the batch's partitions. Requires partition
    * granularity == batch granularity (ref microbatch.sql:1-28).
    *
    * Window boundaries are ALIGNED to the granularity (start floored, end
    * ceiled, in the SESSION timezone — PartitionSpec.Auto's partition values
    * come from date_trunc in that zone, so truncating in any other zone
    * would misalign batch windows with day partitions and the half-window
    * overwrite would erase sibling rows): each batch then overwrites whole
    * partitions (dbt truncates microbatch boundaries the same way). */
  def microbatch(spark: SparkSession, target: TableRef, src: DataFrame,
      eventTimeCol: String, partition: PartitionSpec.Auto,
      start: java.sql.Timestamp, end: java.sql.Timestamp): Unit = {
    val unit = partition.granularity.toLowerCase match {
      case "hour" => java.time.temporal.ChronoUnit.HOURS
      case "day"  => java.time.temporal.ChronoUnit.DAYS
      case g => throw new IllegalArgumentException(s"microbatch granularity: $g")
    }
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    def floor(i: java.time.Instant): java.time.Instant =
      i.atZone(zone).truncatedTo(unit).toInstant
    def plusOne(i: java.time.Instant): java.time.Instant =
      i.atZone(zone).plus(1, unit).toInstant // zone-aware: DST days ≠ 24 h
    var lo = floor(start.toInstant)
    val endI = end.toInstant
    val hi = if (floor(endI) == endI) endI else plusOne(floor(endI))
    while (lo.isBefore(hi)) {
      val up = plusOne(lo)
      val batch = src.filter(col(eventTimeCol) >= lit(java.sql.Timestamp.from(lo)) &&
        col(eventTimeCol) < lit(java.sql.Timestamp.from(up)))
      insertOverwriteDynamic(spark, target, batch, partition)
      lo = up
    }
  }

  // ------------------------------------------------------------------ utils

  /** Embed the MERGE multi-match guard into the source frame itself: a
    * window count over the unique key, with `raise_error` spliced into the
    * first key column when a key occurs more than once. Every branch of the
    * merge (touched-partition scan, update join, insert anti join) projects
    * the key, so the first job that evaluates the source raises — zero
    * dedicated jobs, one shuffle of the (small) delta fused into work the
    * merge does anyway. `partitionBy` (default: the key columns) lets a
    * caller that joins on a derived key column, as the snapshot joins on
    * its NULL-proof key hash, count over that column, so the window's
    * shuffle is the one its join needs. */
  private[exec] def guardDuplicateKeys(src: DataFrame, uniqueKey: Seq[String],
      partitionBy: Seq[Column] = Nil): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((if (partitionBy.isEmpty) uniqueKey.map(col) else partitionBy): _*)
    val k0 = uniqueKey.head
    val kType = src.schema(k0).dataType
    val GN = "__graft_dupn"
    src.withColumn(GN, count(lit(1)).over(w))
      .withColumn(k0, when(col(GN) > 1,
        raise_error(lit(
          s"source has duplicate unique_key values (${uniqueKey.mkString(",")}) " +
            "— MERGE semantics require at most one source row per key"))
          .cast(kType))
        .otherwise(col(k0)))
      .drop(GN)
  }

  /** Partitions the operation touches ([[AtomicWriter.touchedKeys]]): the
    * source's partition values ∪ the partition values of target rows
    * matched by source keys (column-pruned scan of keys + partition cols
    * only). ONE distinct over the union: aggregate partial-combine dedups
    * map-side before the shuffle, and the semi join neither multiplies rows
    * nor needs a pre-distinct right side (broadcast-hash builds dedup) —
    * the inner distincts this used to do were two extra full shuffles. */
  private def touchedPartitions(spark: SparkSession, tgt: DataFrame,
      srcP: DataFrame, uniqueKey: Seq[String],
      partition: PartitionSpec): Option[Set[String]] = {
    val pcols = partition.partitionColumns
    val matchedTgt = tgt.join(srcP.select(uniqueKey.map(srcP(_)): _*),
      keyCond(tgt, srcP, uniqueKey), "left_semi")
    AtomicWriter.touchedKeys(spark, partition,
      srcP.select(pcols.map(srcP(_)): _*)
        .union(matchedTgt.select(pcols.map(tgt(_)): _*)))
  }
}
