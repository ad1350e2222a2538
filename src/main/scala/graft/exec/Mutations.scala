package graft.exec

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.{PartitionSpec, TableRef}

/** Row-level DELETE / UPDATE / TRUNCATE on parquet tables — the reference's
  * transactional-table operations (`tblproperties("transactional"="true")`,
  * exercised by test_core.py:1128-1140) re-expressed as scoped rewrites:
  * each operation builds its affected rows' key frame for
  * [[AtomicWriter.touchedKeys]] and commits through [[AtomicWriter.rewrite]],
  * so on a PARTITIONED table only partitions containing affected rows are
  * rewritten, and unpartitioned tables take the staged whole-table swap.
  *
  * TRUNCATE is the catalog operation (adapters.sql:6-12).
  */
object Mutations {

  /** DELETE FROM target WHERE pred. SQL DELETE removes only rows where the
    * predicate is TRUE — rows where it evaluates NULL survive, so the
    * survivor filter is `NOT coalesce(pred, false)`, not `!pred` (3VL).
    * A partition whose every row is deleted is dropped, not left with its
    * old files. */
  def delete(spark: SparkSession, target: TableRef, pred: Column,
      partition: PartitionSpec = PartitionSpec.None): Unit = {
    val tgt = spark.table(target.render)
    AtomicWriter.rewrite(spark, tgt.filter(!coalesce(pred, lit(false))), target,
      partition, AtomicWriter.touchedKeys(spark, partition, tgt.filter(pred)))
  }

  /** UPDATE target SET assignments WHERE pred. Partition columns may not be
    * assigned (rows never move across partitions — same discipline as the
    * reference's merge, merge.sql:7-16), and, as in SQL UPDATE … SET, every
    * assigned column must exist. */
  def update(spark: SparkSession, target: TableRef,
      assignments: Map[String, Column], pred: Column,
      partition: PartitionSpec = PartitionSpec.None): Unit = {
    val pset = partition.partitionColumns.toSet
    require(!assignments.keys.exists(pset), "cannot assign partition columns")
    val tgt = spark.table(target.render)
    val missing = assignments.keys.filterNot(tgt.columns.contains)
    require(missing.isEmpty,
      s"update: ${missing.toSeq.sorted.mkString(", ")} not in ${target.render}")
    val applied = tgt.select(tgt.columns.map { c =>
      assignments.get(c) match {
        case Some(v) => when(pred, v).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }.toIndexedSeq: _*)
    AtomicWriter.rewrite(spark, applied, target, partition,
      AtomicWriter.touchedKeys(spark, partition, tgt.filter(pred)))
  }

  /** DELETE FROM target WHERE (key...) IN (keys) with the key set arriving
    * as a DATAFRAME — the CDC-apply / GDPR-erasure shape, where the keys to
    * remove are the output of another computation (a snapshot diff, a
    * right-to-be-forgotten feed) and may be far too many for the driver-side
    * in-list [[delete]]'s predicate would need. The survivor set is one
    * distributed left-anti join (hash build dedups the key frame, AQE
    * broadcasts a churn-sized one); on a partitioned table only partitions
    * actually containing matched keys are rewritten (semi-join key frame,
    * same cap-and-fallback discipline as [[delete]]).
    *
    * Key matching is null-safe (`<=>`): a NULL key component matches a NULL
    * target component — the key frame SAYS to delete that row. Callers who
    * want SQL IN's NULL-never-matches semantics should filter NULL keys out
    * of the frame first. */
  def deleteKeys(spark: SparkSession, target: TableRef, keys: DataFrame,
      keyCols: Seq[String], partition: PartitionSpec = PartitionSpec.None): Unit = {
    require(keyCols.nonEmpty, "deleteKeys needs at least one key column")
    val tgt = spark.table(target.render)
    val k = keys.select(keyCols.map(keys(_)): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def cond = keyCols.map(c => tgt(c) <=> k(c)).reduce(_ && _)
      val kept = tgt.join(k, cond, "left_anti")
        .select(tgt.columns.map(col).toIndexedSeq: _*)
      AtomicWriter.rewrite(spark, kept, target, partition,
        AtomicWriter.touchedKeys(spark, partition, tgt.join(k, cond, "left_semi")))
    } finally k.unpersist()
  }

  /** TRUNCATE TABLE (ref adapters.sql:6-12). */
  def truncate(spark: SparkSession, target: TableRef): Unit =
    spark.sql(s"TRUNCATE TABLE ${target.render}")
}
