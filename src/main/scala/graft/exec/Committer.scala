package graft.exec

import org.apache.hadoop.fs.{FileSystem => HFileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.{PartitionSpec, TableRef}

/** The partition swap's commit step: how staged data becomes the LIVE
  * content of the target's partitions. Everything around it (stage
  * alignment, touched-partition diff, emptied-partition cleanup, cache
  * refresh) stays in [[AtomicWriter]].
  *
  * Trash-aside + directory rename, with rollback: O(1) metadata ops per
  * partition wherever rename is atomic (HDFS, local fs, rename-capable
  * HCFS). The staged data takes one extra hop (staging table → target
  * dirs), but both hops are metadata-only.
  *
  * Atomicity: on an EXCEPTION the swap is all-or-nothing — every completed
  * move is rolled back before rethrowing. On a process KILL it is
  * per-partition only: each partition dir is either old (possibly parked
  * in the trash dir) or new, but a multi-partition swap can be cut
  * between partitions; [[Maintenance.recover]] restores stranded trash
  * copies and drops unregistered partition dirs, it does not roll the
  * cut swap back as a whole.
  *
  * Concurrency: the staging TABLE and the trash DIR carry a per-swap
  * stamp, so two materializations of the same target never collide on
  * either (the reference pins thread-parallel runs of one model —
  * tests/functional/adapter/test_concurrency.py; its retry wrapper
  * handles only the catalog races, wrapper.py:46-76). A crash leaves
  * `<t>__graft_stg_<stamp>` / `.graft_trash_<stamp>` leftovers, which
  * Maintenance.recover sweeps by prefix.
  */
object Committer {

  final case class Result(rels: Seq[String], replacedExisting: Boolean)

  /** Per-operation stamp shared by every swap artifact (staging tables,
    * trash dirs, ownership markers, writer leases): millis-prefixed so
    * stamps sort chronologically, `[0-9_]`-only so it is a plain suffix
    * for both table names and hive paths (nextInt(bound) is never
    * negative — `math.abs(Int.MinValue)` is). Maintenance.recover parses
    * the millis prefix to age-gate sweeps. */
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
    val pcols = partition.partitionColumns
    val stamp = newStamp()
    val stg = target.copy(name = target.name + "__graft_stg_" + stamp)
    AtomicWriter.createOrReplace(spark, aligned, stg, partition,
      clusterBy = clusterBy, distributeOn = distributeOn)
    try {
      val stgDir = AtomicWriter.tableDir(spark, stg)
      val staged = AtomicWriter.partitionDirs(fs, stgDir, pcols.size)
      if (staged.isEmpty) return Result(Nil, replacedExisting = false)
      // ALL-OR-NOTHING file swap. Old partition dirs are moved ASIDE
      // (rename into a trash dir — metadata op), staged dirs moved in;
      // if ANY move fails, every completed move is rolled back before
      // rethrowing. Old data is deleted only after every staged move has
      // succeeded — a mid-swap failure can never destroy the only copy.
      // Per-swap name: a leftover trash dir from a CRASHED swap is left
      // alone for Maintenance.recover (it may hold the only copy of a
      // partition), and a concurrent swap's live trash is never touched.
      val trash = new HPath(tgtDir, s".graft_trash_$stamp")
      // OWNERSHIP marker: a dot-prefixed (reader-invisible) empty file
      // stamped into every staged partition dir before any rename. It
      // travels with the dir, so at rollback time "is the dir at dst still
      // OURS?" is one exists() check — without it, a loser rolling back
      // after a concurrent winner re-committed the same partition would
      // pull the WINNER's live data into its staging dir and drop it.
      // Markers persist in committed dirs (hidden from Spark/Hive listings;
      // the next swap of a partition trashes its dir wholesale).
      val marker = s"._graft_swap_$stamp"
      staged.foreach { rel =>
        fs.create(new HPath(new HPath(stgDir, rel), marker), true).close()
      }
      def ours(dir: HPath): Boolean = fs.exists(new HPath(dir, marker))
      val movedAside = scala.collection.mutable.ListBuffer[String]()
      val movedIn = scala.collection.mutable.ListBuffer[String]()
      // one mkdirs per distinct parent, not per partition (at 10³+ touched
      // partitions of a multi-level spec these are all the same few dirs)
      staged.map(rel => new HPath(trash, rel).getParent).distinct
        .foreach(fs.mkdirs)
      staged.map(rel => new HPath(tgtDir, rel).getParent).distinct
        .foreach(fs.mkdirs)
      try {
        staged.foreach { rel =>
          val dst = new HPath(tgtDir, rel)
          if (fs.exists(dst)) {
            if (!fs.rename(dst, new HPath(trash, rel)))
              throw new java.io.IOException(s"rename aside failed: $rel")
            movedAside += rel
          }
          if (!fs.rename(new HPath(stgDir, rel), dst))
            throw new java.io.IOException(s"rename failed: $rel")
          // Hadoop FileSystem.rename does not FAIL when dst already exists
          // as a directory — it moves src INSIDE it (RawLocalFileSystem
          // falls back to FileUtil.copy with the same nesting). So if a
          // concurrent same-partition swap re-created dst between our
          // exists() probe and our rename, our staged dir is now nested at
          // dst/<leaf> and readers would see both writers' files. Detect
          // the nest (a partition dir never legitimately contains a child
          // named like itself); if the nested dir is OURS (stamp marker),
          // pull it back out and lose the race loudly — the whole-operation
          // retry re-runs against the winner's committed state. A nested
          // dir carrying someone ELSE's stamp is a later loser nested
          // inside OUR winning dir — leave it; that writer's own guard
          // pulls it back within its swap.
          val nested = new HPath(dst, dst.getName)
          if (fs.exists(nested) && ours(nested)) {
            if (!fs.rename(nested, new HPath(stgDir, rel)))
              throw new java.io.IOException(
                s"swap rollback INCOMPLETE for ${target.render}: staged copy " +
                  s"of $rel nested inside a concurrent writer's $dst and could " +
                  "not be pulled back out; run Maintenance.recover")
            throw new Retry.ConcurrentSwapException(
              s"lost same-partition swap race on $rel of ${target.render}: " +
                "a concurrent writer committed the partition mid-swap")
          }
          movedIn += rel
        }
      } catch {
        case e: Throwable =>
          // rollback failures may leave the only copy of a partition in
          // the trash dir — they must be LOUD, not silently dropped
          // return values (the next swap would have purged the trash)
          val failed = scala.collection.mutable.ListBuffer[String]()
          var raceSkipped = false
          movedIn.foreach { rel =>
            val dst = new HPath(tgtDir, rel)
            if (!fs.exists(dst) || !ours(dst)) {
              // a concurrent winner replaced our committed-in dir after we
              // moved it in (it saw our dir as "old data" and trashed it) —
              // pulling dst back now would steal the WINNER's live
              // partition and drop it with our staging table
              raceSkipped = true
            } else if (!fs.rename(dst, new HPath(stgDir, rel)))
              failed += s"$rel (staged copy stuck in target)"
          }
          movedAside.foreach { rel =>
            val dst = new HPath(tgtDir, rel)
            if (fs.exists(dst)) {
              // a concurrent swap committed this partition after we set the
              // old copy aside (the same race the nest guard above catches
              // on the forward path) — renaming the old copy back would
              // nest it inside the winner's live dir. The winner's commit
              // supersedes it; leave it in the stamped trash for
              // Maintenance.recover to age-sweep.
              raceSkipped = true
            } else if (!fs.rename(new HPath(trash, rel), dst))
              failed += s"$rel (old data only in $trash)"
          }
          if (failed.nonEmpty) {
            val ex = new java.io.IOException(
              s"swap rollback INCOMPLETE for ${target.render}: " +
                failed.mkString("; ") +
                s" — old data preserved under $trash; run Maintenance.recover")
            ex.addSuppressed(e)
            throw ex
          }
          // rollback restored every moved-aside partition, so this swap's
          // stamped trash dir is empty — remove it (a retry gets a fresh
          // stamp and would otherwise leak one empty dir per attempt).
          // NOT when a restore was race-skipped: the superseded old copy
          // stays in the trash rather than being deleted by the loser.
          if (!raceSkipped) fs.delete(trash, true)
          throw e
      }
      // catalog DDL only AFTER the files are in place, and only ADD:
      // existing partitions keep their registration (same path, new
      // files); one batched statement for all new partition values
      // (per-partition statements are ~50 ms each — at 1000 touched
      // partitions that's the difference between 0.1 s and 100 s)
      Retry.withRetries() {
        spark.sql(s"ALTER TABLE ${target.render} ADD IF NOT EXISTS " +
          staged.map(AtomicWriter.specOf).map(s => s"PARTITION ($s)").mkString(" "))
      }
      fs.delete(trash, true)
      Result(staged, replacedExisting = movedAside.nonEmpty)
    } finally spark.sql(s"DROP TABLE IF EXISTS ${stg.render}")
  }
}
