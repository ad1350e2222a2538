package graft

import java.net.URI
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, FileSystem,
  FilterFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import graft.catalog.{PartitionSpec, TableRef}
import graft.exec.{Committer, Layout, Maintenance, Publish}
import graft.mat.Materializer

/** The publish steps keep their race and failure contracts, and no
  * source file outside the exempt ones hand-rolls a rename. */
class PublishSpec extends SparkSpec {
  import spark.implicits._

  private def fs: FileSystem =
    FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)

  private def read(p: HPath): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def write(p: HPath, s: String): Unit = {
    val out = fs.create(p, false)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** Every name under `dir`, recursively, relative to it: `.crc`
    * siblings too, which the checksummed filesystem's listing hides. */
  private def tree(dir: HPath): Set[String] = {
    val root = java.nio.file.Paths.get(dir.toUri.getPath)
    val all = java.nio.file.Files.walk(root).iterator()
    val names = Set.newBuilder[String]
    while (all.hasNext) names += root.relativize(all.next()).toString
    names.result() - ""
  }

  test("file: of two racing writers exactly one wins, and no temp is left") {
    val dir = MatQueries.tempDir("publish_file")
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try for (round <- 0 until 200) {
      val dst = new HPath(s"$dir/r$round/marker")
      val barrier = new CyclicBarrier(2)
      val wins = Await.result(Future.sequence((0 until 2).map { w =>
        Future {
          barrier.await(10, TimeUnit.SECONDS)
          w -> Publish.file(fs, dst, s"writer $w of round $round".getBytes("UTF-8"))
        }
      }), 30.seconds).filter(_._2).map(_._1)
      assert(wins.size == 1, s"round $round: winners $wins")
      assert(read(dst) == s"writer ${wins.head} of round $round")
      assert(tree(dst.getParent) == Set("marker", ".marker.crc"),
        s"round $round left ${tree(dst.getParent)}")
    } finally pool.shutdown()
  }

  test("dirOnce: a loser's staging is gone from beside and inside the winner") {
    val dir = MatQueries.tempDir("publish_once")
    val dst = new HPath(s"$dir/artifact")
    def attempt(content: String): Boolean = {
      val stage = Publish.staging(dst)
      write(new HPath(stage, "data"), content)
      Publish.dirOnce(fs, stage, dst)
    }
    assert(attempt("winner"))
    val committed = tree(dst)
    assert(!attempt("loser"))
    assert(read(new HPath(dst, "data")) == "winner")
    assert(tree(dst) == committed, "the loser's staging nested in the winner")
    assert(tree(new HPath(dir)).forall(n => n == "artifact" ||
      n.startsWith("artifact/")), s"debris beside: ${tree(new HPath(dir))}")
  }

  /** The session's local filesystem, with `rename` failing for the sources
    * `fail` names. */
  private def failingRenames(fail: HPath => Boolean): FileSystem =
    new FilterFileSystem(fs) {
      override def rename(src: HPath, dst: HPath): Boolean =
        !fail(src) && super.rename(src, dst)
    }

  private def swapFixture(tag: String): (HPath, HPath) = {
    val live = new HPath(s"${MatQueries.tempDir(tag)}/live")
    write(new HPath(live, "old"), "old rows")
    val staged = Publish.staging(live)
    write(new HPath(staged, "new"), "new rows")
    (staged, live)
  }

  test("dirSwap: a failed publish restores the old dir") {
    val (staged, live) = swapFixture("publish_swap")
    val e = intercept[java.io.IOException] {
      Publish.dirSwap(failingRenames(_ == staged), staged, live)
    }
    assert(e.getMessage.contains("cannot publish"), e.getMessage)
    assert(tree(live) == Set("old", ".old.crc"))
    assert(read(new HPath(live, "old")) == "old rows")
    // nothing is left in trash: the parent holds only the live dir and
    // the staging the failed rename left
    assert(fs.listStatus(live.getParent).map(_.getPath.getName).toSet ==
      Set("live", staged.getName))
    Publish.dirSwap(fs, staged, live)
    // the published dir carries its ownership marker and that marker's .crc
    val (marks, data) = tree(live).partition(_.contains("._graft_swap_"))
    assert(data == Set("new", ".new.crc") && marks.size == 2, tree(live))
    assert(fs.listStatus(live.getParent).map(_.getPath.getName).toSeq == Seq("live"))
  }

  test("dirSwap: a failed restore raises an error naming the trash dir") {
    val (staged, live) = swapFixture("publish_restore")
    val e = intercept[java.io.IOException] {
      Publish.dirSwap(failingRenames(p => p == staged ||
        p.getParent.getName.startsWith(".graft_trash_")), staged, live)
    }
    val trash = fs.listStatus(live.getParent).map(_.getPath)
      .filter(_.getName.startsWith(".graft_trash_"))
    assert(trash.length == 1)
    assert(e.getMessage.contains("ROLLBACK INCOMPLETE") &&
      e.getMessage.contains(trash.head.getName), e.getMessage)
    assert(read(new HPath(trash.head, "live/old")) == "old rows")
    assert(!fs.exists(live))
  }

  /** `live` holding `a` and `b`, and three staged files `a`, `b`, `c`
    * (content "new <name>") in its staging sibling. */
  private def replaceFixture(tag: String): (HPath, Seq[(HPath, String)]) = {
    val live = new HPath(s"${MatQueries.tempDir(tag)}/live")
    Seq("a", "b").foreach(n => write(new HPath(live, n), s"old $n"))
    val stage = Publish.staging(live)
    val in = Seq("a", "b", "c").map { n =>
      write(new HPath(stage, n), s"new $n")
      new HPath(stage, n) -> n
    }
    (live, in)
  }

  test("replace: a failed k-th move-in restores every entry, no debris") {
    val (live, in) = replaceFixture("publish_replace")
    val stage = in.head._1.getParent
    val before = tree(live.getParent)
    for (k <- in.indices) {
      val e = intercept[java.io.IOException] {
        Publish.replace(failingRenames(_ == in(k)._1), live, Seq("a", "b"), in)
      }
      assert(e.getMessage.contains("cannot publish"), e.getMessage)
      assert(tree(live.getParent) == before, s"move-in $k")
      Seq("a", "b").foreach(n => assert(read(new HPath(live, n)) == s"old $n"))
      in.foreach { case (p, n) => assert(read(p) == s"new $n") }
    }
    Publish.replace(fs, live, Seq("a", "b"), in)
    assert(tree(live) == Set("a", "b", "c", ".a.crc", ".b.crc", ".c.crc"))
    Seq("a", "b", "c").foreach(n => assert(read(new HPath(live, n)) == s"new $n"))
    assert(tree(stage).isEmpty)
  }

  test("replace: a failed undo raises an error naming the trash") {
    val (live, in) = replaceFixture("publish_undo")
    val e = intercept[java.io.IOException] {
      Publish.replace(failingRenames(p => p == in(1)._1 ||
        p.getParent.getName.startsWith(".graft_trash_") && p.getName == "a"),
        live, Seq("a", "b"), in)
    }
    val trash = fs.listStatus(live).map(_.getPath)
      .filter(_.getName.startsWith(".graft_trash_"))
    assert(trash.length == 1)
    assert(e.getMessage.contains("ROLLBACK INCOMPLETE") &&
      e.getMessage.contains(trash.head.getName), e.getMessage)
    assert(read(new HPath(trash.head, "a")) == "old a")
    assert(read(new HPath(live, "b")) == "old b")
    assert(!fs.exists(new HPath(live, "a")))
  }

  test("replace: with nothing to move out, a publish is one rename per entry") {
    val (live, in) = replaceFixture("publish_plain")
    val moves = scala.collection.mutable.ListBuffer[(HPath, HPath)]()
    val recording = new FilterFileSystem(fs) {
      override def rename(src: HPath, dst: HPath): Boolean = {
        moves += src -> dst
        super.rename(src, dst)
      }
    }
    val fresh = in.map { case (p, n) => p -> s"$n-new" }
    Publish.replace(recording, live, Seq("absent"), fresh)
    assert(moves.toList == fresh.map { case (p, n) => p -> new HPath(live, n) })
    assert(!tree(live.getParent).exists(n =>
      n.contains("-trash-") || n.contains(".graft_trash_")), tree(live.getParent))
    Seq("a", "b", "c").foreach(n =>
      assert(read(new HPath(live, s"$n-new")) == s"new $n"))
  }

  test("replace: a directory nested in a concurrent writer's loses, and every move is undone") {
    val base = new HPath(MatQueries.tempDir("publish_nest"))
    val live = new HPath(base, "t")
    write(new HPath(live, "p1/old"), "old rows")
    val in = Seq("p1", "p2").map { n =>
      write(new HPath(base, s"s/$n/new"), s"new $n")
      new HPath(base, s"s/$n") -> n
    }
    val before = tree(base)
    // a concurrent writer publishes p2 just before this call's move-in,
    // which therefore nests inside it
    val racing = new FilterFileSystem(fs) {
      override def rename(src: HPath, dst: HPath): Boolean = {
        if (src == in(1)._1) write(new HPath(dst, "winner"), "winner rows")
        super.rename(src, dst)
      }
    }
    intercept[graft.exec.Retry.ConcurrentSwapException] {
      Publish.replace(racing, live, Seq("p1", "p2"), in)
    }
    assert(tree(base) == before ++ Set("t/p2", "t/p2/winner", "t/p2/.winner.crc"))
    assert(read(new HPath(live, "p1/old")) == "old rows")
  }

  test("zorderWrite onto an existing layout replaces it whole") {
    val path = s"${MatQueries.tempDir("publish_zorder")}/z"
    val before = spark.range(0, 2000)
      .select($"id", ($"id" % 97).as("x"), ($"id" % 89).as("y"))
    val after = spark.range(5000, 5600)
      .select($"id", ($"id" % 31 + 200).as("x"), ($"id" % 17 + 300).as("y"))
    Layout.zorderWrite(before, "x", "y", 16, path)
    val oldFiles = tree(new HPath(path)).filter(_.startsWith("tile-"))
    assert(oldFiles.nonEmpty)
    Layout.zorderWrite(after, "x", "y", 4, path)
    val got = spark.read.parquet(path)
    assert(got.select("id").as[Long].collect().sorted.toSeq == (5000L until 5600L))
    val files = tree(new HPath(path))
    assert(files.intersect(oldFiles).isEmpty, s"stale tiles: ${files.intersect(oldFiles)}")
    assert(files.filter(n => n.startsWith("tile-") && n.endsWith(".parquet")).size <= 4)
    assert(!files.exists(n => n.startsWith("__tile") || n == "_SUCCESS"), files)
    assert(Layout.readStats(spark, path).contains(
      Layout.ZStats(200L, 230L, 300L, 316L, 8, Layout.tileBlocks(4))))
  }

  private val byPt = PartitionSpec.Static(Seq("pt" -> "string"))

  /** `default.<name>` partitioned by `pt` and holding p1 and p2, its root,
    * and a write of the partitions p1 to p`n`, aligned to its columns. */
  private def partitioned(name: String, n: Int): (TableRef, HPath, DataFrame) = {
    val ref = TableRef(s"default.$name")
    Materializer.table(spark, ref, Seq((1L, "old", "p1"), (2L, "old", "p1"),
      (3L, "old", "p2")).toDF("id", "v", "pt"), byPt)
    val root = new HPath(spark.sessionState.catalog.getTableMetadata(ref.ident).location)
    (ref, root, (1 to n).map(i => (100L + i, "new", s"p$i")).toDF("id", "v", "pt"))
  }

  /** What readers and the catalog see of `ref`: rows and partitions. */
  private def seen(ref: TableRef): (Seq[(Long, String, String)], Seq[String]) = {
    spark.sql(s"REFRESH TABLE ${ref.render}")
    (spark.table(ref.render).as[(Long, String, String)].collect().sorted.toSeq,
      spark.sql(s"SHOW PARTITIONS ${ref.render}").as[String].collect().sorted.toSeq)
  }

  /** What a catalog swap left behind: trash dirs under `root`, staging tables. */
  private def leftovers(ref: TableRef, root: HPath): Seq[String] =
    fs.listStatus(root).map(_.getPath.getName).filter(_.startsWith(".graft_trash")) ++
      spark.catalog.listTables("default").collect().map(_.name)
        .filter(_.startsWith(s"${ref.name}__graft_stg"))

  /** [[failingRenames]] failing the `k`-th rename out of a staging table
    * (a catalog swap's move-in, counted from 0) and every rename `also`
    * names. */
  private def failingMoveIn(k: Int, also: HPath => Boolean = _ => false): FileSystem = {
    var moveIns = 0
    failingRenames { src =>
      val moveIn = src.getParent.getName.contains("__graft_stg_")
      if (moveIn) moveIns += 1
      (moveIn && moveIns == k + 1) || also(src)
    }
  }

  test("catalog swap: a failed k-th move-in leaves rows, partitions and files as before") {
    val (ref, root, write) = partitioned("publish_cat_rollback", 3)
    try {
      val before = seen(ref)
      val files = tree(root)
      for (k <- 0 until 3) {
        intercept[java.io.IOException] {
          Committer.stageAndCommit(spark, write, ref, byPt, root, failingMoveIn(k))
        }
        assert(seen(ref) == before, s"move-in $k")
        assert(tree(root) == files, s"move-in $k")
        assert(leftovers(ref, root).isEmpty, s"move-in $k")
      }
      val done = Committer.stageAndCommit(spark, write, ref, byPt, root, fs)
      assert(done.replacedExisting && done.rels.sorted == Seq("pt=p1", "pt=p2", "pt=p3"))
      assert(seen(ref) == ((1 to 3).map(i => (100L + i, "new", s"p$i")),
        Seq("pt=p1", "pt=p2", "pt=p3")))
      assert(leftovers(ref, root).isEmpty)
    } finally spark.sql(s"DROP TABLE IF EXISTS ${ref.render}")
  }

  test("catalog swap: a failed undo names the trash, and recover restores the old rows") {
    val (ref, root, write) = partitioned("publish_cat_undo", 3)
    try {
      val before = seen(ref)
      val e = intercept[java.io.IOException] {
        Committer.stageAndCommit(spark, write, ref, byPt, root,
          failingMoveIn(2, _.getParent.getName.startsWith(".graft_trash")))
      }
      val trash = fs.listStatus(root).map(_.getPath.getName)
        .filter(_.startsWith(".graft_trash_"))
      assert(trash.length == 1)
      assert(e.getMessage.toLowerCase.contains("rollback incomplete") &&
        e.getMessage.contains(trash.head), e.getMessage)
      Maintenance.recover(spark, ref)
      assert(seen(ref) == before)
      assert(leftovers(ref, root).isEmpty)
    } finally spark.sql(s"DROP TABLE IF EXISTS ${ref.render}")
  }

  test("catalog swap: filesystem calls of a 4-partition write, 2 existing") {
    val (ref, root, write) = partitioned("publish_cat_calls", 4)
    val calls = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val recording = new FilterFileSystem(fs) {
      override def rename(src: HPath, dst: HPath): Boolean = {
        calls("rename") += 1; super.rename(src, dst)
      }
      override def mkdirs(p: HPath): Boolean = {
        calls("mkdirs") += 1; super.mkdirs(p)
      }
      override def mkdirs(p: HPath, perm: FsPermission): Boolean = {
        calls("mkdirs") += 1; super.mkdirs(p, perm)
      }
      override def create(p: HPath, perm: FsPermission, overwrite: Boolean,
          buffer: Int, replication: Short, block: Long,
          progress: Progressable): FSDataOutputStream = {
        calls("create") += 1
        super.create(p, perm, overwrite, buffer, replication, block, progress)
      }
      override def delete(p: HPath, recursive: Boolean): Boolean = {
        calls("delete") += 1; super.delete(p, recursive)
      }
      // `exists` reads through here
      override def getFileStatus(p: HPath): FileStatus = {
        calls("getFileStatus") += 1; super.getFileStatus(p)
      }
      override def listStatus(p: HPath): Array[FileStatus] = {
        calls("listStatus") += 1; super.listStatus(p)
      }
    }
    try {
      Committer.stageAndCommit(spark, write, ref, byPt, root, recording)
      assert(seen(ref)._1 == (1 to 4).map(i => (100L + i, "new", s"p$i")))
      info(calls.toSeq.sorted.mkString(", "))
      // upper bounds, measured on the swap before it went through
      // Publish.replace: no per-partition call may be added
      val budget = Map("rename" -> 6, "mkdirs" -> 2, "create" -> 4,
        "delete" -> 1, "getFileStatus" -> 8)
      budget.foreach { case (call, most) =>
        assert(calls(call) <= most, s"$call: ${calls(call)} > $most ($calls)")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS ${ref.render}")
  }

  /** The sources allowed to call `.rename(`, each with its reason. A
    * member-scoped entry allows it only inside that top-level member. This
    * list only shrinks. */
  private val renameExempt: Seq[(String, Option[String], String)] = Seq(
    ("exec/Publish.scala", None, "the publish steps themselves"),
    ("exec/LocalFs.scala", None, "the local filesystem's own rename"),
    ("exec/Maintenance.scala", Some("recover"),
      "crash recovery of the catalog swap's trash and nested staging"))

  test("no hand-rolled publish: .rename( appears only in exempt sources") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = java.nio.file.Files.walk(root).iterator()
    val offenders = scala.collection.mutable.ListBuffer[String]()
    while (files.hasNext) {
      val f = files.next()
      if (f.toString.endsWith(".scala")) {
        val rel = root.relativize(f).toString
        val lines = java.nio.file.Files.readAllLines(f).toArray.map(_.toString)
        val rules = renameExempt.filter(_._1 == rel)
        // the lines of each exempt top-level member: its `def` line up to
        // the next line at the object's member indentation (its `}`)
        def span(member: String): Range = {
          val start = lines.indexWhere(_.matches(s"  (private.* )?def $member\\b.*"))
          val end = lines.indexWhere(_.matches("  \\S.*"), start + 1)
          if (start < 0) 0 until 0
          else start to (if (end < 0) lines.length else end)
        }
        lines.zipWithIndex.foreach { case (l, i) =>
          val code = l.trim
          val comment = code.startsWith("*") || code.startsWith("/*") ||
            code.startsWith("//")
          val allowed = rules.exists(r => r._2.forall(m => span(m).contains(i)))
          if (!comment && code.contains(".rename(") && !allowed)
            offenders += s"$rel:${i + 1}: $code"
        }
      }
    }
    assert(offenders.isEmpty, "rename outside graft.exec.Publish (publish " +
      s"through it, or add an exemption with its reason): $offenders")
    // every exemption still names a member that exists
    renameExempt.foreach { case (rel, member, _) =>
      val src = new String(java.nio.file.Files.readAllBytes(root.resolve(rel)), "UTF-8")
      member.foreach(m => assert(src.contains(s"def $m("), s"$rel has no $m"))
    }
  }
}
