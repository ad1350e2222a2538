package graft.exec

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import scala.jdk.CollectionConverters._

/** The one stitch failure a caller may CATCH and fall back on: source
  * footers disagree on the writer schema, so a byte-copy would mis-stitch
  * silently and the caller's re-encode path is the correct tool. Typed
  * (rather than message-matched) so fallback dispatch survives JVM/Spark
  * exception wrapping — every other stitch failure (row-count verification,
  * IO) signals a bug or corruption and must propagate loudly. */
final class StitchSchemaMismatch(msg: String)
  extends IllegalStateException(msg)

/** Row-group-level parquet consolidation — the decode-free primitive under
  * every "small files → one file" maintenance step (z-order touched-tile
  * merge, dedup/index-store segment folds, export compaction): source
  * files' row groups COPY byte-for-byte into one destination file, so
  * consolidating N files costs a sequential byte stream + one footer
  * write — never a decode, a re-encode, or a shuffle of stored rows.
  * Per-file footer min/max (the pruning contract) is the union over
  * copied row groups and is preserved exactly; an empty source (a store
  * segment whose batch kept no rows) contributes zero blocks.
  *
  * What stitching does NOT do is merge row groups — repeated stitches
  * fragment a file's blocks without bound, so callers gate on
  * accumulated blocks/bytes and re-encode past the gate (which also
  * resets the fragmentation). And a writer-schema mismatch would
  * SILENTLY mis-stitch (a REQUIRED column's pages carry no definition
  * levels; read under an OPTIONAL writer schema they'd be garbage), so
  * [[stitch]] verifies exact footer-schema equality across its sources
  * — inside the stitch itself, where the footers are being read anyway,
  * not as a separate driver-side pass (a 1 600-file export paid more
  * for sequential driver footer reads than for the copy; measured by the
  * retired CompactExportProbe, `git show
  * b49ec23:src/main/scala/graft/examples/CompactExportProbe.scala`; p06
  * and ZorderTableSpec pin the stitch and its re-encode fallback). Two
  * gates are offered: [[stitchable]] reads
  * footers (exact block counts — right for small source sets like
  * store-segment folds), [[stitchableCheap]] reads only FileStatus
  * (file-count proxy for blocks — right for wide fan-ins like export
  * compaction, where the caller catches a schema-mismatch failure and
  * falls back to the re-encode). Every stitch verifies the destination
  * footer's row count against the sources' before returning. */
object ParquetStitch {

  /** Default bound on cumulative source row groups: stitching never merges
    * blocks, so re-stitching past this fragments reads; callers re-encode
    * instead. */
  val MaxBlocks = 64

  /** Default bound on cumulative source bytes: one stitched file is a
    * sequential single-writer copy — past this the distributed re-encode
    * is the right shape anyway. */
  val MaxBytes: Long = 1073741824L

  def footer(conf: Configuration, p: HPath) =
    ParquetFileReader.readFooter(conf, p)

  /** Exact stitch gate: non-empty sources, ONE footer schema, cumulative
    * blocks/bytes inside the bounds. Reads every source's footer — use
    * on small source sets; wide fan-ins use [[stitchableCheap]]. */
  def stitchable(conf: Configuration, fs: FileSystem, sources: Seq[HPath],
      maxBlocks: Int = MaxBlocks, maxBytes: Long = MaxBytes): Boolean = {
    if (sources.isEmpty) return false
    val foots = sources.map(footer(conf, _))
    foots.forall(_.getFileMetaData.getSchema ==
      foots.head.getFileMetaData.getSchema) &&
      foots.map(_.getBlocks.size).sum <= maxBlocks &&
      sources.map(p => fs.getFileStatus(p).getLen).sum <= maxBytes
  }

  /** FileStatus-only stitch gate: file COUNT stands proxy for block count
    * (exact for single-block micro-batch files, conservative in spirit —
    * a source that was itself stitched carries more blocks than files,
    * which only affects fragmentation hygiene, never correctness), bytes
    * are exact. Schema equality is NOT checked here — [[stitch]] verifies
    * it where the footers are read anyway and fails loud; callers fall
    * back to their re-encode path on failure. */
  def stitchableCheap(fs: FileSystem, sources: Seq[HPath],
      maxFiles: Int = MaxBlocks, maxBytes: Long = MaxBytes): Boolean =
    sources.nonEmpty && sources.size <= maxFiles &&
      sources.map(p => fs.getFileStatus(p).getLen).sum <= maxBytes

  /** Copy every source's row groups into `dst` (parent must exist),
    * verifying ONE exact footer schema across sources (loud
    * [[StitchSchemaMismatch]] otherwise — appending under a mismatched
    * writer schema would mis-stitch silently) and that the stitched
    * footer accounts for every source row BEFORE the file becomes
    * visible. Each source's footer is read once. Returns the stitched
    * row count.
    *
    * RETRY-SAFE: the copy lands at an attempt-unique dot-prefixed temp
    * name and goes live after verification through [[Publish.replace]]
    * (any partial `dst` a previous dead attempt left behind moves out) —
    * so a retried or speculative Spark task re-running the same job is
    * idempotent, never fails on its predecessor's leftovers, and `dst` is
    * only ever absent or complete-and-verified. */
  def stitch(conf: Configuration, sources: Seq[HPath], dst: HPath): Long = {
    require(sources.nonEmpty, "ParquetStitch.stitch: no sources")
    val foots = sources.map(footer(conf, _))
    val schema = foots.head.getFileMetaData.getSchema
    foots.zip(sources).foreach { case (ft, src) =>
      if (ft.getFileMetaData.getSchema != schema)
        throw new StitchSchemaMismatch(s"ParquetStitch: $src schema " +
          s"differs from ${sources.head} — cannot stitch (caller should " +
          "fall back to a re-encode)")
    }
    val fs = dst.getFileSystem(conf)
    val tmp = new HPath(dst.getParent,
      s".${dst.getName}.stitch-${java.util.UUID.randomUUID()}")
    try {
      val w = new ParquetFileWriter(HadoopOutputFile.fromPath(tmp, conf),
        schema, ParquetFileWriter.Mode.CREATE, 134217728L, 8388608)
      w.start()
      foots.zip(sources).foreach { case (ft, src) =>
        if (!ft.getBlocks.isEmpty) {
          val in = HadoopInputFile.fromPath(src, conf).newStream()
          try w.appendRowGroups(in, ft.getBlocks, false)
          finally in.close()
        }
      }
      w.end(foots.head.getFileMetaData.getKeyValueMetaData)
      val want = foots.map(_.getBlocks.asScala.map(_.getRowCount).sum).sum
      val n = footer(conf, tmp).getBlocks.asScala.map(_.getRowCount).sum
      if (n != want)
        throw new IllegalStateException(s"ParquetStitch: $tmp holds $n " +
          s"rows, sources hold $want — refusing to publish")
      // a previous attempt's partial file, if any, moves out
      Publish.replace(fs, dst.getParent, Seq(dst.getName),
        Seq(tmp -> dst.getName))
      n
    } catch {
      case t: Throwable =>
        try fs.delete(tmp, false) catch { case _: Exception => () }
        throw t
    }
  }

  /** Run independent stitch jobs DISTRIBUTED, one task per destination
    * (each job is `(source paths, destination path)`); the Hadoop conf
    * travels as entries and is rebuilt per task. A schema mismatch in any
    * job fails the whole call loud — callers fall back to their
    * re-encode path. */
  def run(spark: org.apache.spark.sql.SparkSession,
      jobs: Seq[(Seq[String], String)]): Unit = {
    if (jobs.isEmpty) return
    val confMap: Map[String, String] = {
      val b = Map.newBuilder[String, String]
      val it = spark.sessionState.newHadoopConf().iterator()
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    spark.sparkContext.parallelize(jobs, math.min(jobs.size, 64))
      .foreach { case (srcs, dst) =>
        val c = new Configuration()
        confMap.foreach { case (k, v) => c.set(k, v) }
        stitch(c, srcs.map(new HPath(_)), new HPath(dst))
        ()
      }
  }
}
