package graft.exec

import org.apache.hadoop.fs.{FileSystem => HFileSystem, Path => HPath}

/** Filesystem lease files with a VERIFIED heartbeat — the shared seam
  * behind every "is this long-running operation still alive?" decision
  * (VERDICT r12 #7 parity sweep). Two use shapes:
  *
  *  - EXCLUSIVE lease ([[graft.llm.DedupStore.compact]]): of two racing
  *    acquirers the first writer of the lease file wins ([[Publish.file]]);
  *    presence + freshness means "someone is running, keep out".
  *  - PRESENCE marker ([[AtomicWriter.overwriteTable]] /
  *    [[AtomicWriter.overwritePartitions]] swaps): each writer heartbeats
  *    its OWN stamped file; [[Maintenance.recover]] treats any fresh marker
  *    as "a writer is in flight — don't sweep its rollback state", however
  *    long the write runs.
  *
  * The heartbeat advances the lease file's mtime every `intervalMs` so a
  * LIVE holder never ages out of a fixed ceiling; a dead holder stops
  * beating and ages out as before. `FileSystem.setTimes` is a silent
  * no-op in the base implementation and on common object stores (S3A) —
  * the first beat VERIFIES the mtime actually advanced and, if not, falls
  * back to rewriting the file content (a fresh create always moves the
  * mtime). The rewrite is guarded by an exists() check and [[Handle.release]]
  * joins the beater thread before deleting, so a released lease is never
  * resurrected by a late beat. */
object Lease {

  /** A held lease: heartbeating daemon + release. */
  final class Handle private[Lease] (fs: HFileSystem, path: HPath,
      intervalMs: Long) {
    private val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    private val beater = new Thread(() => {
      var rewriteFallback = false
      var verified = false
      try while (!stop.get()) {
        try {
          if (!rewriteFallback) {
            val want = System.currentTimeMillis()
            fs.setTimes(path, want, -1)
            if (!verified) {
              val got = fs.getFileStatus(path).getModificationTime
              if (math.abs(got - want) > intervalMs) rewriteFallback = true
              verified = true
            }
          }
          if (rewriteFallback && fs.exists(path) && !stop.get())
            fs.create(path, true).close()
        } catch { case _: java.io.IOException => () } // lease gone = done
        Thread.sleep(intervalMs)
      } catch { case _: InterruptedException => () } // release woke us: exit
    }, s"graft-lease-heartbeat-${path.getName}")
    beater.setDaemon(true)
    beater.start()

    /** Stop beating, then delete the lease. Joining first serializes the
      * beater's last (possibly rewrite-fallback create) beat against the
      * delete, so release can never leave a freshly-recreated lease. */
    def release(): Unit = {
      stop.set(true)
      beater.interrupt()
      beater.join(5000)
      try fs.delete(path, false)
      catch { case _: java.io.IOException => () }
    }
  }

  /** Atomically create `path` ([[Publish.file]]: first writer wins) and
    * start its heartbeat. Returns None while `path` exists: held by a
    * racing acquirer, or by anyone before this call. Caller handles
    * staleness of an EXISTING file before calling (see [[age]]). */
  def tryAcquire(fs: HFileSystem, path: HPath, intervalMs: Long): Option[Handle] =
    if (Publish.file(fs, path, Array.emptyByteArray))
      Some(new Handle(fs, path, intervalMs))
    else None

  /** Create a PRESENCE marker (caller-unique name — no rename race to
    * arbitrate) and start its heartbeat. */
  def acquirePresence(fs: HFileSystem, path: HPath, intervalMs: Long): Handle = {
    fs.mkdirs(path.getParent)
    fs.create(path, true).close()
    new Handle(fs, path, intervalMs)
  }

  /** Age (ms) of a lease file, None if absent. The window between exists()
    * and getFileStatus() is a benign race: a vanished lease means the
    * holder finished — treat as lease-free. */
  def age(fs: HFileSystem, path: HPath): Option[Long] =
    try {
      if (!fs.exists(path)) None
      else Some(math.max(0L,
        System.currentTimeMillis() - fs.getFileStatus(path).getModificationTime))
    } catch { case _: java.io.FileNotFoundException => None }

  /** Heartbeat interval for a given stale ceiling: beat well inside the
    * ceiling (≥3 beats must fit), bounded to [50 ms, 60 s]. */
  def intervalFor(maxAgeMs: Long): Long =
    math.max(50L, math.min(60000L, maxAgeMs / 3))

  /** The one stale ceiling for every heartbeated lease — the table-swap
    * writer markers ([[WriterLease]]) and the DedupStore compaction lease
    * alike: a lease whose mtime is older than this counts as a dead
    * holder's leftover. A LIVE holder beats every [[intervalFor]] of it,
    * so only a holder that actually died ever ages out.
    * `spark.graft.lease.maxAgeMs`, default 30 min. */
  def maxAgeMs(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.lease.maxAgeMs")
      .map(_.toLong).getOrElse(30L * 60 * 1000)
}

/** Per-writer PRESENCE markers for table swaps: each
  * [[AtomicWriter.overwriteTable]] / [[AtomicWriter.overwritePartitions]]
  * holds a heartbeated, stamp-named lease file for its whole run, and
  * [[Maintenance.recover]] refuses to sweep a table whose lease dir holds
  * a FRESH marker, so no writer has its staging-table/trash-dir rollback
  * state swept from under it (the DedupStore-compact heartbeat shape,
  * applied to the table swap — VERDICT r12 #7).
  *
  * Markers live under the DATABASE directory
  * (`<dbDir>/.graft_writer_leases/<table>__<stamp>`), not the table dir:
  * the swap MOVES table directories (table rename, partition-dir
  * renames), and a marker inside one would travel with it. Concurrent same-table writers
  * each hold their own stamped marker (presence, not mutual exclusion —
  * same-table concurrency stays supported); a crashed writer's marker
  * stops beating and ages out at [[Lease.maxAgeMs]] (default 30 min),
  * after which recover proceeds exactly as before. */
object WriterLease {
  private[exec] val LeaseDirName = ".graft_writer_leases"

  private def leaseDir(spark: org.apache.spark.sql.SparkSession,
      target: graft.catalog.TableRef): HPath = {
    val cat = spark.sessionState.catalog
    val db = target.database.getOrElse(cat.getCurrentDatabase)
    new HPath(new HPath(cat.getDatabaseMetadata(db).locationUri), LeaseDirName)
  }

  private def fsOf(spark: org.apache.spark.sql.SparkSession,
      p: HPath): HFileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Run `body` while holding a heartbeated presence marker for
    * (`target`, `stamp`). The marker is removed on ANY exit; a crash
    * leaves it to age out. */
  def holding[T](spark: org.apache.spark.sql.SparkSession,
      target: graft.catalog.TableRef, stamp: String)(body: => T): T = {
    val dir = leaseDir(spark, target)
    val fs = fsOf(spark, dir)
    val handle = Lease.acquirePresence(fs,
      new HPath(dir, s"${target.name}__$stamp"),
      Lease.intervalFor(Lease.maxAgeMs(spark)))
    try body finally handle.release()
  }

  /** Names of LIVE writer markers for `target` (fresh under the ceiling);
    * aged-out markers are deleted as a side effect (dead writers). */
  def liveWriters(spark: org.apache.spark.sql.SparkSession,
      target: graft.catalog.TableRef): Seq[String] = {
    val dir = leaseDir(spark, target)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) return Nil
    val ceiling = Lease.maxAgeMs(spark)
    val prefix = target.name + "__"
    fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.startsWith(prefix))
      .flatMap { st =>
        val age = System.currentTimeMillis() - st.getModificationTime
        if (age <= ceiling) Some(st.getPath.getName)
        else { // dead writer's leftover: reclaim
          try fs.delete(st.getPath, false)
          catch { case _: java.io.IOException => () }
          None
        }
      }
  }
}
