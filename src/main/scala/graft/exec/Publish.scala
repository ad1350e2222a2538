package graft.exec

import java.util.UUID
import org.apache.hadoop.fs.{FileSystem, Path}

/** The only ways a staged file or directory goes live outside the catalog
  * swap ([[Committer]]), each with its rule for a race. Staging and trash
  * are hidden siblings of the destination: `.<name>.tmp-<uuid>` (a file),
  * `.<name>-tmp-<uuid>` (a directory, [[staging]]), `.<name>-trash-<stamp>`. */
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

  /** First directory wins: rename the complete `stage` (from [[staging]])
    * onto `dst`. A directory renamed onto an existing one nests inside it
    * and the rename returns true, so the win is read from a per-attempt
    * token that travels with the directory. Returns true iff `stage`
    * became `dst`; a loser deletes its staging from beside `dst` and from
    * inside the winner's `dst`. */
  def dirOnce(fs: FileSystem, stage: Path, dst: Path): Boolean = {
    val token = s"attempt-${UUID.randomUUID()}"
    fs.create(new Path(stage, token), false).close()
    fs.rename(stage, dst)
    val won = fs.exists(new Path(dst, token))
    if (!won) {
      fs.delete(stage, true)
      fs.delete(new Path(dst, stage.getName), true)
      if (!fs.exists(dst))
        throw new java.io.IOException(s"cannot publish $stage as $dst")
    }
    won
  }

  /** Replace with rollback, for a set of direct children of `dir`: each
    * existing `out` entry moves aside to its trash sibling, each staged
    * `in` path moves to `dir/<name>`, and the trash is deleted. A reader
    * listing `dir` mid-call may see a mix; after the call it sees every
    * new entry, or after a failure every old one: a failed move undoes
    * every completed one, newest first, before the error is rethrown, and
    * a failed undo raises an error naming the trash entries, the only
    * copies of what moved out. With nothing to move out nothing is
    * created, so a plain publish is one rename per entry. Race: last
    * writer wins; callers keep one writer per `dir`. */
  def replace(fs: FileSystem, dir: Path, out: Seq[String],
      in: Seq[(Path, String)]): Unit = {
    val stamp = Committer.newStamp()
    val aside = out.map(new Path(dir, _)).filter(fs.exists)
      .map(p => p -> new Path(dir, s".${p.getName}-trash-$stamp"))
    var done = List.empty[(Path, Path)]
    def move(from: Path, to: Path, what: String): Unit = {
      if (!fs.rename(from, to)) throw new java.io.IOException(what)
      done = (from -> to) :: done
    }
    try {
      aside.foreach { case (p, t) => move(p, t, s"cannot set aside $p") }
      in.foreach { case (src, name) =>
        move(src, new Path(dir, name), s"cannot publish $src as $dir/$name")
      }
    } catch {
      case e: Throwable =>
        done.foreach { case (from, to) =>
          val back = try fs.rename(to, from)
            catch { case _: java.io.IOException => false }
          if (!back) {
            val left = aside.map(_._2).filter(fs.exists)
            val err = new java.io.IOException(s"ROLLBACK INCOMPLETE: cannot " +
              s"move $to back to $from; the old entries of $dir are only in " +
              left.mkString(", "))
            err.addSuppressed(e)
            throw err
          }
        }
        throw e
    }
    aside.foreach { case (_, t) => fs.delete(t, true) }
  }

  /** [[replace]] of one directory: the complete `staged` becomes `live`,
    * and a failure leaves the old `live` in place. */
  def dirSwap(fs: FileSystem, staged: Path, live: Path): Unit =
    replace(fs, live.getParent, Seq(live.getName), Seq(staged -> live.getName))
}
