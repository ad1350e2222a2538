package graft.exec

import org.apache.hadoop.fs.{FileSystem => HFileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.{PartitionSpec, TableRef}

/** The partition swap's commit step: how staged data becomes the LIVE
  * content of the target's partitions. Everything around it (stage
  * alignment, touched-partition diff, emptied-partition cleanup, cache
  * refresh) stays in [[AtomicWriter]].
  *
  * The staged partition dirs go live through [[Publish.replace]]: each
  * live dir moves into the swap's trash just before its staged
  * replacement moves in, rolled back on any exception. That is O(1)
  * metadata ops per partition wherever rename is atomic (HDFS, local fs,
  * rename-capable HCFS); the staged data takes one extra hop (staging
  * table → target dirs), also metadata-only.
  *
  * Atomicity: on an EXCEPTION the swap is all-or-nothing. On a process
  * KILL it is per-partition only: each partition dir is either old
  * (possibly parked in the trash dir) or new, but a multi-partition swap
  * can be cut between partitions; [[Maintenance.recover]] restores
  * stranded trash copies and drops unregistered partition dirs, it does
  * not roll the cut swap back as a whole.
  *
  * Concurrency: the staging TABLE and the trash DIR carry a per-swap
  * stamp, so two materializations of the same target never collide on
  * either (the reference pins thread-parallel runs of one model —
  * tests/functional/adapter/test_concurrency.py; its retry wrapper
  * handles only the catalog races, wrapper.py:46-76), and a loser of a
  * same-partition race fails with [[Retry.ConcurrentSwapException]]. A
  * crash leaves `<t>__graft_stg_<stamp>` / `.graft_trash_<stamp>`
  * leftovers, which Maintenance.recover sweeps by prefix.
  */
object Committer {

  final case class Result(rels: Seq[String], replacedExisting: Boolean)

  /** The per-operation stamp every swap artifact carries (staging tables,
    * trash dirs, ownership markers, writer leases): millis-prefixed so
    * stamps sort chronologically, `[0-9_]`-only so it is a plain suffix
    * for both table names and hive paths (nextInt(bound) is never
    * negative — `math.abs(Int.MinValue)` is). Maintenance.recover reads
    * it back from a crashed swap's ownership marker to find that swap's
    * trash dir. */
  private[exec] def newStamp(): String =
    f"${System.currentTimeMillis()}%013d_${
      new java.security.SecureRandom().nextInt(1000000)}%06d"

  /** Write `aligned` (already projected to the target's column order) and
    * make it the live content of the partitions it populates. Returns the
    * staged relative partition paths (`k=v[/k=v…]`) and whether any
    * EXISTING partition's content was replaced (⇒ cached file listings are
    * stale). On failure the target's previous content is still what
    * readers see.
    *
    * `clusterBy`: optional in-file ordering expressions (over the target's
    * columns) applied WITHIN each staged partition after the partition-
    * column repartition — the seam through which a z-order (or any
    * clustered) rewrite reaches catalog tables
    * ([[Maintenance.zorderCompact]]); rows land in every staged file
    * sorted by them, so row-group/file footer min-max stay tight. Empty =
    * no in-file ordering.
    *
    * `distributeOn`: optional names of distribution-only HELPER columns
    * present in `aligned` but NOT in the target schema: the repartition
    * keys become (partition cols ++ distributeOn) — so one partition value
    * can be written by MANY tasks (the tile-parallel z-rewrite of a hot
    * partition, [[Maintenance.zorderCompact]]) — and the helpers are
    * dropped again before the write. Empty = one task per partition
    * value. */
  def stageAndCommit(spark: SparkSession, aligned: DataFrame, target: TableRef,
      partition: PartitionSpec, tgtDir: HPath, fs: HFileSystem,
      clusterBy: Seq[org.apache.spark.sql.Column] = Nil,
      distributeOn: Seq[String] = Nil): Result = {
    val stg = target.copy(name = target.name + "__graft_stg_" + newStamp())
    AtomicWriter.createOrReplace(spark, aligned, stg, partition,
      clusterBy = clusterBy, distributeOn = distributeOn)
    try {
      val stgDir = AtomicWriter.tableDir(spark, stg)
      val staged = AtomicWriter.partitionDirs(fs, stgDir, partition.partitionColumns.size)
      if (staged.isEmpty) return Result(Nil, replacedExisting = false)
      val replaced = Publish.replace(fs, tgtDir, staged,
        staged.map(rel => new HPath(stgDir, rel) -> rel))
      // catalog DDL only AFTER the files are in place, and only ADD:
      // existing partitions keep their registration (same path, new
      // files); one batched statement for all new partition values
      // (per-partition statements are ~50 ms each — at 1000 touched
      // partitions that's the difference between 0.1 s and 100 s)
      Retry.withRetries() {
        spark.sql(s"ALTER TABLE ${target.render} ADD IF NOT EXISTS " +
          staged.map(AtomicWriter.specOf).map(s => s"PARTITION ($s)").mkString(" "))
      }
      Result(staged, replacedExisting = replaced.nonEmpty)
    } finally spark.sql(s"DROP TABLE IF EXISTS ${stg.render}")
  }
}
