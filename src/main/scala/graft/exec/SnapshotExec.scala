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
  * One pass, like the reference's single MERGE (snapshot.sql:51-74): one scan
  * of the snapshot table and one of the source, one full-outer join on a
  * NULL-proof key hash (closed versions never match), one projection that
  * classifies each joined row and emits one or two versions, then the atomic
  * staged swap. The source goes through [[Incremental.guardDuplicateKeys]],
  * so a repeated key raises inside the pass's own jobs. The write keeps the
  * join's AQE-coalesced partitions, so the file count follows data size (one
  * file for a small table), and sorts each file by key, then
  * `dbt_valid_from`, so equal inputs write equal bytes. `snapshotAt` is
  * caller-supplied so runs are deterministic.
  */
object SnapshotExec {

  val ScdCols = Seq("dbt_scd_id", "dbt_updated_at", "dbt_valid_from", "dbt_valid_to")

  sealed trait Strategy
  /** changed ⇔ src.updatedAt > current.updatedAt */
  final case class TimestampStrategy(updatedAt: String) extends Strategy
  /** changed ⇔ any of `checkCols` differs (null-safe) */
  final case class CheckStrategy(checkCols: Seq[String], updatedAtExpr: Column) extends Strategy

  private val UPD = "__graft_upd"
  private val KH = "__graft_kh"
  /** prefix of the source's columns in the join: names, not expression ids,
    * keep the two sides apart even when they share lineage */
  private val S = "__graft_src_"
  /** 1 on the copy of a joined row that becomes the source's new version */
  private val FRESH = "__graft_fresh"

  /** Run one snapshot pass against `target`; creates it on first run. */
  def run(spark: SparkSession, target: TableRef, srcIn: DataFrame,
      key: Seq[String], strategy: Strategy,
      snapshotAt: java.sql.Timestamp,
      invalidateHardDeletes: Boolean = false): Unit =
    if (!CatalogOps.exists(spark, target)) {
      val (src, u) = withUpdatedAt(srcIn, strategy)
      val upd = col(u).cast("timestamp")
      AtomicWriter.createOrReplace(spark, src.select((srcIn.columns.map(col) ++ Seq(
        upd.as("dbt_updated_at"), upd.as("dbt_valid_from"),
        lit(null).cast("timestamp").as("dbt_valid_to"),
        Fns.scdId((key.map(col) :+ col(u).cast("string")): _*).as("dbt_scd_id"))): _*),
        target)
    } else
      AtomicWriter.overwriteTable(spark,
        nextTable(spark, target, srcIn, key, strategy, snapshotAt, invalidateHardDeletes),
        target, PartitionSpec.None, AtomicWriter.currentBucketing(spark, target))

  /** The snapshot table's next contents: the one-pass plan [[run]] writes
    * over an existing `target`. */
  private[graft] def nextTable(spark: SparkSession, target: TableRef, srcIn: DataFrame,
      key: Seq[String], strategy: Strategy, snapshotAt: java.sql.Timestamp,
      invalidateHardDeletes: Boolean): DataFrame = {
    def kh(df: DataFrame): DataFrame = df.withColumn(KH,
      md5(concat_ws("\u0001",
        key.map(k => coalesce(col(k).cast("string"), lit("\u0002NULL"))): _*)))
    val snap = kh(spark.table(target.render))
    val (withUpd, u) = withUpdatedAt(srcIn, strategy)
    // the guard's window is partitioned by the key hash, so its shuffle is
    // the one the join needs on the source side
    val guarded = Incremental.guardDuplicateKeys(kh(withUpd), key, Seq(col(KH)))
    val src = guarded.select(guarded.columns.map(c => col(c).as(S + c)).toIndexedSeq: _*)
    val joined = snap.join(src, col(KH) === col(S + KH) && col("dbt_valid_to").isNull,
      "full_outer")

    def s(c: String): Column = col(S + c)
    val changed = col(KH).isNotNull && s(KH).isNotNull && (strategy match {
      case TimestampStrategy(_) => s(u) > col("dbt_updated_at")
      case CheckStrategy(cols, _) => cols.map(c => !(s(c) <=> col(c))).reduce(_ || _)
    })
    // a changed open version yields two rows: itself closed, and the new one
    val copies = explode(when(changed, array(lit(0), lit(1)))
      .when(col(KH).isNull, array(lit(1))).otherwise(array(lit(0))))
    val fresh = col(FRESH) === 1
    val closing = when(fresh, lit(null).cast("timestamp"))
      .when(changed, s(u).cast("timestamp"))
    val validTo = (if (invalidateHardDeletes)
        closing.when(s(KH).isNull && col("dbt_valid_to").isNull, lit(snapshotAt))
      else closing).otherwise(col("dbt_valid_to"))
    joined.withColumn(FRESH, copies).select(snap.columns.filterNot(_ == KH).map {
      case c @ ("dbt_updated_at" | "dbt_valid_from") =>
        when(fresh, s(u).cast("timestamp")).otherwise(col(c)).as(c)
      case "dbt_valid_to" => validTo.as("dbt_valid_to")
      case "dbt_scd_id" =>
        when(fresh, Fns.scdId((key.map(s) :+ s(u).cast("string")): _*))
          .otherwise(col("dbt_scd_id")).as("dbt_scd_id")
      case c => when(fresh, s(c)).otherwise(col(c)).as(c)
    }.toIndexedSeq: _*).sortWithinPartitions((key :+ "dbt_valid_from").map(col): _*)
  }

  /** The source with its updated-at column, and that column's name. The
    * check strategy's expression may reference any SOURCE column, so it is
    * evaluated once on the source frame, before any join. */
  private def withUpdatedAt(src: DataFrame, strategy: Strategy): (DataFrame, String) =
    strategy match {
      case TimestampStrategy(u) => (src, u)
      case CheckStrategy(_, expr) => (src.withColumn(UPD, expr), UPD)
    }
}
