package graft.exec

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.{CatalogOps, PartitionSpec, TableRef}
import graft.functions.Fns

/** SCD-2 snapshots (M9), mirroring the reference's snapshot materialization
  * (macros/materializations/snapshots/snapshot.sql):
  *
  *  - surrogate key `dbt_scd_id` = md5('|'-joined key + updated_at)
  *    (snapshot.sql:2-7);
  *  - metadata columns dbt_updated_at / dbt_valid_from / dbt_valid_to;
  *  - timestamp strategy: a row "changed" when src.updated_at > cur.updated_at;
  *    check strategy: changed when any checked column differs;
  *  - changed rows: current version closed out (valid_to = new updated_at) and
  *    a new open version inserted; new keys inserted; optionally hard-deleted
  *    keys invalidated (valid_to = snapshotAt).
  *
  * One two-phase DataFrame job: full-outer join of source and open snapshot
  * rows → change classification → union(closed, new, untouched) → atomic
  * staged swap. `snapshotAt` is caller-supplied so runs are deterministic.
  */
object SnapshotExec {

  val ScdCols = Seq("dbt_scd_id", "dbt_updated_at", "dbt_valid_from", "dbt_valid_to")

  sealed trait Strategy
  /** changed ⇔ src.updatedAt > current.updatedAt */
  final case class TimestampStrategy(updatedAt: String) extends Strategy
  /** changed ⇔ any of `checkCols` differs (null-safe) */
  final case class CheckStrategy(checkCols: Seq[String], updatedAtExpr: Column) extends Strategy

  private val UPD = "__graft_upd"

  /** Run one snapshot pass against `target`; creates it on first run. */
  def run(spark: SparkSession, target: TableRef, srcIn: DataFrame,
      key: Seq[String], strategy: Strategy,
      snapshotAt: java.sql.Timestamp,
      invalidateHardDeletes: Boolean = false): Unit = {

    // updated-at must be resolved against a specific frame: the snapshot's
    // open rows and the source both carry every source column, so an
    // unqualified reference would be ambiguous inside their join. For the
    // check strategy the expression may reference arbitrary SOURCE columns
    // — evaluate it ONCE on the source frame as a derived column before
    // any join, so updOf(df) is always a plain frame-qualified lookup.
    val src = strategy match {
      case CheckStrategy(_, expr) => srcIn.withColumn(UPD, expr)
      case _ => srcIn
    }
    def updOf(df: DataFrame): Column = strategy match {
      case TimestampStrategy(u) => df(u)
      case CheckStrategy(_, _)  => df(UPD)
    }
    def withMeta(df: DataFrame): DataFrame = {
      val u = updOf(df)
      df.withColumn("dbt_updated_at", u.cast("timestamp"))
        .withColumn("dbt_valid_from", u.cast("timestamp"))
        .withColumn("dbt_valid_to", lit(null).cast("timestamp"))
        .withColumn("dbt_scd_id",
          Fns.scdId((key.map(col) :+ u.cast("string")): _*))
    }

    if (!CatalogOps.exists(spark, target)) {
      AtomicWriter.createOrReplace(spark, withMeta(src).drop(UPD), target)
      return
    }

    val snap = spark.table(target.render)
    val open = snap.filter(col("dbt_valid_to").isNull)
    val closedHist = snap.filter(col("dbt_valid_to").isNotNull)

    val keyCondOpen = key.map(k => open(k) <=> src(k)).reduce(_ && _)

    val changedCond: Column = strategy match {
      case TimestampStrategy(u) => src(u) > open("dbt_updated_at")
      case CheckStrategy(cols, _) => cols.map(c => !(src(c) <=> open(c))).reduce(_ || _)
    }

    // joint view of source vs open versions
    val matched = open.join(src, keyCondOpen, "inner")
    val changed = matched.filter(changedCond)

    // 1. close out changed current versions
    val closedOut = changed.select(
      (snap.columns.toSeq.filterNot(_ == "dbt_valid_to").map(c => open(c).as(c)) :+
        updOf(src).cast("timestamp").as("dbt_valid_to")): _*)
      .select(snap.columns.map(col).toIndexedSeq: _*)
    // 2. new versions of changed rows + brand-new keys.
    // Name-based joins are used because the frames share lineage
    // (expression-id conditions would be ambiguous self-joins), but a bare
    // usingColumns join is null-UNSAFE while the match above is <=> — a
    // NULL-key row would be closed out AND stay open AND insert twice. So
    // the anti/semi joins run on a single NULL-proof hashed key column.
    val KH = "__graft_kh"
    def kh(df: DataFrame): DataFrame = df.withColumn(KH,
      md5(concat_ws("\u0001",
        key.map(k => coalesce(col(k).cast("string"), lit("\u0002NULL"))): _*)))

    val newKeys = kh(src).join(kh(open).select(col(KH)), Seq(KH), "left_anti")
      .drop(KH)
    val changedSrc = changed.select(src.columns.map(c => src(c).as(c)).toIndexedSeq: _*)
    val inserted = withMeta(changedSrc.unionByName(newKeys))
      .select(snap.columns.map(col).toIndexedSeq: _*)
    // 3. untouched open versions (unchanged matches + unmatched-by-src keys)
    val changedKH = kh(changedSrc).select(col(KH)).distinct()
    var untouchedOpen = kh(open).join(changedKH, Seq(KH), "left_anti")
    // 4. hard-delete invalidation
    if (invalidateHardDeletes) {
      val srcKH = kh(src).select(col(KH)).distinct()
      val deletedKeys = untouchedOpen.join(srcKH, Seq(KH), "left_anti")
      val stillOpen = untouchedOpen.join(srcKH, Seq(KH), "left_semi")
      val invalidated = deletedKeys.withColumn("dbt_valid_to", lit(snapshotAt))
      untouchedOpen = stillOpen.unionByName(invalidated)
    }
    val untouchedOpenClean = untouchedOpen.drop(KH)

    val result = closedHist
      .unionByName(closedOut)
      .unionByName(untouchedOpenClean)
      .unionByName(inserted)
    AtomicWriter.overwriteTable(spark, result, target, PartitionSpec.None,
      AtomicWriter.currentBucketing(spark, target))
  }
}
