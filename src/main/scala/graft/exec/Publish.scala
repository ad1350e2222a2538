package graft.exec

import java.util.UUID
import org.apache.hadoop.fs.{FileSystem, Path}

/** The only ways a staged file or directory goes live, each with its rule
  * for a race; the catalog partition swap ([[Committer]]) is a [[replace]]
  * of partition dirs. Staging is a hidden sibling of the destination:
  * `.<name>.tmp-<uuid>` (a file), `.<name>-tmp-<uuid>` (a directory,
  * [[staging]]). What a replace moves out waits in its trash dir
  * `.graft_trash_<stamp>`, and a directory carries the hidden ownership
  * marker `._graft_swap_<stamp>` through its rename: the names
  * [[Maintenance.recover]] reads after a crash. */
object Publish {

  /** A private staging directory for one attempt at publishing `dst`. */
  def staging(dst: Path): Path =
    new Path(dst.getParent, s".${dst.getName}-tmp-${UUID.randomUUID()}")

  /** True for a name [[staging]] makes: a crashed attempt's debris. */
  def isStaging(name: String): Boolean =
    name.startsWith(".") && name.contains("-tmp-")

  /** First writer wins: write `bytes` to a private temp sibling and rename
    * it onto `dst`, which a file rename never replaces (HDFS, the Hadoop
    * FileSystem specification, [[ForkFreeRawLocalFileSystem]]). Returns
    * true iff this call published `dst`; a loser deletes its temp. */
  def file(fs: FileSystem, dst: Path, bytes: Array[Byte]): Boolean = {
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp-${UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(bytes) finally out.close()
    val won = fs.rename(tmp, dst)
    if (!won) fs.delete(tmp, false)
    won
  }

  /** The ownership marker: a hidden empty file stamped into a directory
    * before its rename. A directory renamed onto an existing one nests
    * inside it and the rename returns true, so which directory a path
    * holds afterwards is read from the marker that travelled with it. */
  private final case class Marker(token: String) {
    private val name = s"._graft_swap_$token"
    def stamp(fs: FileSystem, dir: Path): Unit = fs.create(new Path(dir, name), false).close()
    def in(fs: FileSystem, dir: Path): Boolean = fs.exists(new Path(dir, name))
    def clear(fs: FileSystem, dir: Path): Unit = fs.delete(new Path(dir, name), false)
  }

  /** First directory wins: rename the complete `stage` (from [[staging]])
    * onto `dst`; the win is read from this attempt's [[Marker]]. Returns
    * true iff `stage` became `dst`; a loser deletes its staging from
    * beside `dst` and from inside the winner's `dst`. */
  def dirOnce(fs: FileSystem, stage: Path, dst: Path): Boolean = {
    val mark = Marker(UUID.randomUUID().toString)
    mark.stamp(fs, stage)
    fs.rename(stage, dst)
    val won = mark.in(fs, dst)
    if (!won) {
      fs.delete(stage, true)
      fs.delete(new Path(dst, stage.getName), true)
      if (!fs.exists(dst))
        throw new java.io.IOException(s"cannot publish $stage as $dst")
    }
    won
  }

  /** One completed move of [[replace]]; its undo moves `to` back to `from`. */
  private final case class Move(from: Path, to: Path, aside: Boolean, marked: Boolean)

  /** Replace with rollback, for entries of `dir` named by their path
    * relative to it (`name`, or `k1=v1/k2=v2`): each existing `out` entry
    * moves into this call's trash `dir/.graft_trash_<stamp>/<name>`, each
    * staged `in` path moves to `dir/<name>` (parents made once each), and
    * the trash is deleted. Returns the names moved out. An entry in both
    * is set aside just before its replacement moves in, so it is missing
    * for one rename. A reader listing `dir` mid-call may see a mix; after
    * the call it sees every new entry, or after a failure every old one:
    * a failed move undoes every completed one, newest first, before the
    * error is rethrown, and a failed undo raises an error naming the
    * trash, which then holds the only copies of what moved out. With
    * nothing to move out no trash is made, so a plain publish is one
    * rename per entry.
    *
    * Race: every staged directory carries a [[Marker]]. A move-in that
    * nested inside a directory a concurrent writer published is pulled
    * back out, and the call throws [[Retry.ConcurrentSwapException]] after
    * its undo. An undo moves a directory back only while it holds the
    * marker, and restores a set-aside entry only while its name is free;
    * a skipped restore leaves the trash for [[Maintenance.recover]]. A
    * file rename never replaces a file ([[file]]): files carry no marker. */
  def replace(fs: FileSystem, dir: Path, out: Seq[String],
      in: Seq[(Path, String)]): Seq[String] = {
    val stamp = Committer.newStamp()
    val mark = Marker(stamp)
    val trash = new Path(dir, s".graft_trash_$stamp")
    // which entries are directories: one call per staging parent, a stat
    // where it stages one entry (a stitch's temp among its siblings), a
    // listing where it stages several (a staging table's partitions)
    val dirs = in.map(_._1).groupBy(_.getParent).toSeq.flatMap {
      case (_, Seq(src)) => Seq(src).filter(fs.getFileStatus(_).isDirectory)
      case (p, srcs) =>
        val sub = fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSet
        srcs.filter(s => sub(s.getName))
    }.toSet
    val entries = in.map { case (src, name) => (src, name, dirs(src)) }
    entries.foreach { case (src, _, marked) => if (marked) mark.stamp(fs, src) }
    def parent(name: String): Option[String] =
      Some(name.lastIndexOf('/')).filter(_ > 0).map(name.take)
    in.flatMap(e => parent(e._2)).distinct.foreach(p => fs.mkdirs(new Path(dir, p)))
    val trashDirs = scala.collection.mutable.Set[Path]()
    val movedOut = scala.collection.mutable.ListBuffer[String]()
    var done = List.empty[Move]
    def move(m: Move, what: => String): Unit = {
      if (!fs.rename(m.from, m.to)) throw new java.io.IOException(what)
      done = m :: done
    }
    def setAside(name: String): Unit = {
      val live = new Path(dir, name)
      if (fs.exists(live)) {
        val to = new Path(trash, name)
        if (trashDirs.add(to.getParent)) fs.mkdirs(to.getParent)
        move(Move(live, to, aside = true, marked = false), s"cannot set aside $live")
        movedOut += name
      }
    }
    try {
      val outNames = out.toSet
      val inNames = in.map(_._2).toSet
      out.filterNot(inNames).foreach(setAside)
      entries.foreach { case (src, name, marked) =>
        if (outNames(name)) setAside(name)
        val dst = new Path(dir, name)
        move(Move(src, dst, aside = false, marked), s"cannot publish $src as $dst")
        val nested = new Path(dst, dst.getName)
        if (marked && !mark.in(fs, dst) && mark.in(fs, nested)) {
          done = Move(src, nested, aside = false, marked) :: done.tail
          throw new Retry.ConcurrentSwapException(s"lost a replace race on " +
            s"$dst: a concurrent writer published it mid-call")
        }
      }
    } catch {
      case e: Throwable =>
        var skipped = false
        val failed = scala.collection.mutable.ListBuffer[String]()
        done.foreach { m =>
          if (if (m.aside) fs.exists(m.from) else m.marked && !mark.in(fs, m.to))
            skipped = true
          else if (!(try fs.rename(m.to, m.from)
              catch { case _: java.io.IOException => false }))
            failed += s"${m.to} back to ${m.from}"
        }
        if (failed.nonEmpty) {
          val err = new java.io.IOException(s"ROLLBACK INCOMPLETE: cannot " +
            s"move ${failed.mkString(", ")}; what moved out of $dir is only in $trash")
          err.addSuppressed(e)
          throw err
        }
        if (!skipped) {
          entries.foreach { case (src, _, marked) => if (marked) mark.clear(fs, src) }
          if (trashDirs.nonEmpty) fs.delete(trash, true)
        }
        throw e
    }
    if (trashDirs.nonEmpty) fs.delete(trash, true)
    movedOut.toList
  }

  /** [[replace]] of one directory: the complete `staged` becomes `live`,
    * and a failure leaves the old `live` in place. */
  def dirSwap(fs: FileSystem, staged: Path, live: Path): Unit =
    replace(fs, live.getParent, Seq(live.getName), Seq(staged -> live.getName))
}
