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

  /** Replace with rollback: `live` moves aside to a trash sibling, the
    * complete `staged` moves in, the trash is deleted. Readers see the old
    * directory or the new one. A failed move-in moves the old one back; a
    * failed restore raises an error naming the trash, its only copy. */
  def dirSwap(fs: FileSystem, staged: Path, live: Path): Unit = {
    val trash = new Path(live.getParent,
      s".${live.getName}-trash-${Committer.newStamp()}")
    val aside = fs.exists(live)
    if (aside && !fs.rename(live, trash))
      throw new java.io.IOException(s"cannot set aside $live")
    if (!fs.rename(staged, live)) {
      if (aside && !fs.rename(trash, live))
        throw new java.io.IOException(
          s"ROLLBACK INCOMPLETE: the old $live is only in $trash")
      throw new java.io.IOException(s"cannot publish $staged as $live")
    }
    if (aside) fs.delete(trash, true)
  }
}
