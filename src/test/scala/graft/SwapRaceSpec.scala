package graft

import org.apache.hadoop.fs.{Path => HPath}
import graft.catalog.TableRef
import graft.exec.{Maintenance, Retry, WriterLease}

/** Round-6 concurrency hardening:
  *
  *  - [[Retry.tableRenameRace]] is SCOPED: a not-found/already-exists about
  *    an unrelated table (a missing source, a genuine conflict) is NOT a
  *    retryable swap race; the swap's own helper names or the caller's
  *    target are.
  *  - The Hadoop rename-nesting semantics Committer.stageAndCommit's nest
  *    guard relies on hold on the test filesystem: renaming a dir onto an
  *    existing dir nests src INSIDE dst (this is the behavior that could
  *    tear a partition, and what `fs.exists(new Path(dst, dst.getName))`
  *    detects).
  *  - Maintenance.recover leaves a live writer's rollback state alone:
  *    while a [[WriterLease]] is held, a `__graft_old_<stamp>` with the
  *    target missing is a whole-table swap mid-rename, not a crash.
  */
class SwapRaceSpec extends SparkSpec {
  import spark.implicits._

  test("tableRenameRace: scoped to swap helper names or the caller's target") {
    def ae(msg: String) = intercept[org.apache.spark.sql.AnalysisException] {
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "INTERNAL_ERROR", messageParameters = Map("message" -> msg)) {
        override def getMessage: String = msg
      }
    }
    val unrelated = ae("[TABLE_OR_VIEW_NOT_FOUND] The table `some_source` cannot be found")
    assert(!Retry.tableRenameRace(unrelated),
      "a missing unrelated table must not be classified as a swap race")
    assert(Retry.tableRenameRace(unrelated, target = "some_source"),
      "the same error IS a race when the caller is retrying that target")
    assert(Retry.tableRenameRace(
      ae("[TABLE_OR_VIEW_NOT_FOUND] `t__graft_stg_0000000000001_000001` not found")))
    assert(Retry.tableRenameRace(
      ae("Table default.t__graft_old_0000000000001_000001 already exists")))
    assert(!Retry.tableRenameRace(ae("`other_table` already exists")),
      "an unscoped already-exists is a real conflict, not a race")
    // the target match is delimited: a missing "events_raw" is NOT a race
    // for a caller retrying "events"; the exact name (bare or backticked) is
    val raw = ae("[TABLE_OR_VIEW_NOT_FOUND] The table `events_raw` cannot be found")
    assert(!Retry.tableRenameRace(raw, target = "events"))
    assert(Retry.tableRenameRace(
      ae("[TABLE_OR_VIEW_NOT_FOUND] The table `events` cannot be found"),
      target = "events"))
    val swapRace = new Retry.ConcurrentSwapException("lost same-partition race")
    assert(Retry.tableRenameRace(swapRace))
    assert(!Retry.transientRace(swapRace),
      "ConcurrentSwapException must only be retried at whole-operation level")
  }

  test("Hadoop rename onto an existing dir NESTS src inside dst (guard premise)") {
    val base = new HPath(java.nio.file.Files
      .createTempDirectory("graft_nest").toString)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val src = new HPath(base, "stg/pt=x")
    val dst = new HPath(base, "tgt/pt=x")
    fs.mkdirs(src); fs.create(new HPath(src, "a.parquet"), true).close()
    fs.mkdirs(dst); fs.create(new HPath(dst, "b.parquet"), true).close()
    // the racing rename: dst already exists — Hadoop nests instead of failing
    fs.rename(src, dst)
    val nested = new HPath(dst, dst.getName)
    assert(fs.exists(nested) && fs.exists(new HPath(nested, "a.parquet")),
      "expected src nested at dst/<leaf> — the state the commit guard detects")
    // and the guard's recovery move: the nested dir renames back out clean
    assert(fs.rename(nested, src))
    assert(fs.exists(new HPath(src, "a.parquet")) &&
      fs.exists(new HPath(dst, "b.parquet")) && !fs.exists(nested))
    fs.delete(base, true)
  }

  test("recover: crashed loser's nested marker dir is swept aside, then purged") {
    val ref = TableRef(Some("default"), "nest_sweep_t")
    Seq((1L, "x")).toDF("id", "pt").write.partitionBy("pt")
      .saveAsTable("default.nest_sweep_t")
    try {
      val meta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier("default.nest_sweep_t"))
      val root = new HPath(meta.location)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val live = new HPath(root, "pt=x")
      val nested = new HPath(live, "pt=x")
      // a loser that crashed between its nesting rename and its nest check:
      // staged data + ownership marker, stamped one hour ago
      val stamp = f"${System.currentTimeMillis() - 3600L * 1000}%013d_000007"
      fs.mkdirs(nested)
      fs.create(new HPath(nested, "part-00000.parquet"), true).close()
      fs.create(new HPath(nested, s"._graft_swap_$stamp"), true).close()
      // a held lease = possibly a LIVE loser about to run its own pull-back
      WriterLease.holding(spark, ref, stamp) { Maintenance.recover(spark, ref) }
      assert(fs.exists(nested), "a live writer's nested dir must be left alone")
      // no writer: the nest is a crash leftover — moved aside, live data intact
      val a1 = Maintenance.recover(spark, ref)
      assert(a1.exists(_.contains("nested swap leftover")), a1.mkString("; "))
      assert(!fs.exists(nested), "torn partition still readable after recover")
      assert(spark.table("default.nest_sweep_t").count() == 1)
      val trash = new HPath(root, s".graft_trash_$stamp")
      assert(fs.exists(new HPath(trash, "pt=x/part-00000.parquet")),
        "loser's staged copy must be preserved aside, not deleted")
      // second recover: live dir present → the aside copy is purged
      Maintenance.recover(spark, ref)
      assert(!fs.exists(trash))
    } finally {
      spark.sql("DROP TABLE IF EXISTS default.nest_sweep_t")
    }
  }

  test("recover: a leased __graft_old with target missing is skipped, then restored") {
    val ref = TableRef(Some("default"), "race_restore_t")
    val stamp = f"${System.currentTimeMillis()}%013d_000042"
    val old = TableRef(Some("default"), s"race_restore_t__graft_old_$stamp")
    Seq((1L, "a")).toDF("id", "v").write
      .saveAsTable(old.render.replace("`", ""))
    try {
      val a1 = WriterLease.holding(spark, ref, stamp) {
        Maintenance.recover(spark, ref)
      }
      assert(a1.exists(_.contains("SKIPPED")), a1.mkString("; "))
      assert(!spark.catalog.tableExists("default.race_restore_t"),
        "recover must not rename a live swap's old-table back")
      // lease released: the same leftover is now a genuine crash — restore runs
      val a2 = Maintenance.recover(spark, ref)
      assert(a2.exists(_.startsWith("restored")), a2.mkString("; "))
      assert(spark.catalog.tableExists("default.race_restore_t"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS default.race_restore_t")
      spark.sql(s"DROP TABLE IF EXISTS ${old.render}")
    }
  }
}
