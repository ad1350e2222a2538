package graft.exec

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import scala.jdk.CollectionConverters._

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
  * fragment a file's blocks without bound, so a caller bounds the
  * accumulated blocks/bytes and re-encodes past the bound (which also
  * resets the fragmentation). And a writer-schema mismatch would
  * SILENTLY mis-stitch (a REQUIRED column's pages carry no definition
  * levels; read under an OPTIONAL writer schema they'd be garbage), so
  * the sources' footer schemas must be equal. [[stitch]] is the one gate:
  * it reads each source footer once, and when the sources are empty, their
  * schemas differ or the blocks/bytes pass the bounds it DECLINES (returns
  * None, writes nothing) and the caller re-encodes. Deciding inside the
  * stitch, where the footers are read anyway, costs no separate
  * driver-side pass (a 1 600-file export paid more for sequential driver
  * footer reads than for the copy; measured by the retired
  * CompactExportProbe, `git show
  * b49ec23:src/main/scala/graft/examples/CompactExportProbe.scala`; p06,
  * ZorderTableSpec, LayoutSpec and LlmSpec pin the stitch and its
  * re-encode fallback). Every stitch verifies the destination footer's
  * row count against the sources' before publishing. */
object ParquetStitch {

  /** Default bound on cumulative source row groups: stitching never merges
    * blocks, so re-stitching past this fragments reads; callers re-encode
    * instead. */
  val MaxBlocks = 64

  /** Default bound on cumulative source bytes: one stitched file is a
    * sequential single-writer copy — past this the distributed re-encode
    * is the right shape anyway. */
  val MaxBytes: Long = 1073741824L

  /** Copy every source's row groups into `dst` (parent must exist) and
    * return the stitched row count — or DECLINE with None, writing
    * nothing, when the sources are empty, their footer schemas differ
    * (appending under a mismatched writer schema would mis-stitch
    * silently), or together they hold more than `maxBlocks` row groups or
    * `maxBytes` bytes. Each source's footer is read once, and the decision
    * is made before anything is copied. The stitched footer must account
    * for every source row BEFORE the file becomes visible; a mismatch, like
    * an IO error, throws.
    *
    * RETRY-SAFE: the copy lands at an attempt-unique dot-prefixed temp
    * name and goes live after verification through [[Publish.replace]]
    * (any partial `dst` a previous dead attempt left behind moves out) —
    * so a retried or speculative Spark task re-running the same job is
    * idempotent, never fails on its predecessor's leftovers, and `dst` is
    * only ever absent or complete-and-verified. */
  def stitch(conf: Configuration, sources: Seq[HPath], dst: HPath,
      maxBlocks: Int = MaxBlocks, maxBytes: Long = MaxBytes): Option[Long] = {
    if (sources.isEmpty) return None
    val ins = sources.map(HadoopInputFile.fromPath(_, conf))
    val foots = ins.map(ParquetFileReader.readFooter(_,
      ParquetMetadataConverter.NO_FILTER))
    val schema = foots.head.getFileMetaData.getSchema
    if (foots.exists(_.getFileMetaData.getSchema != schema) ||
        foots.map(_.getBlocks.size).sum > maxBlocks ||
        ins.map(_.getLength).sum > maxBytes) return None
    val fs = dst.getFileSystem(conf)
    val tmp = new HPath(dst.getParent,
      s".${dst.getName}.stitch-${java.util.UUID.randomUUID()}")
    try {
      val w = new ParquetFileWriter(HadoopOutputFile.fromPath(tmp, conf),
        schema, ParquetFileWriter.Mode.CREATE, 134217728L, 8388608)
      w.start()
      foots.zip(ins).foreach { case (ft, src) =>
        if (!ft.getBlocks.isEmpty) {
          val in = src.newStream()
          try w.appendRowGroups(in, ft.getBlocks, false)
          finally in.close()
        }
      }
      w.end(foots.head.getFileMetaData.getKeyValueMetaData)
      val want = foots.map(_.getBlocks.asScala.map(_.getRowCount).sum).sum
      val n = ParquetFileReader.readFooter(conf, tmp).getBlocks.asScala
        .map(_.getRowCount).sum
      if (n != want)
        throw new IllegalStateException(s"ParquetStitch: $tmp holds $n " +
          s"rows, sources hold $want — refusing to publish")
      // a previous attempt's partial file, if any, moves out
      Publish.replace(fs, dst.getParent, Seq(dst.getName),
        Seq(tmp -> dst.getName))
      Some(n)
    } catch {
      case t: Throwable =>
        try fs.delete(tmp, false) catch { case _: Exception => () }
        throw t
    }
  }

  /** Run independent stitch jobs DISTRIBUTED, one task per destination
    * (each job is `(source paths, destination path)`, bounds as in
    * [[stitch]]); the Hadoop conf travels as entries and is rebuilt per
    * task. Returns the destinations whose stitch declined — nothing was
    * written there, and the caller re-encodes them. */
  def run(spark: org.apache.spark.sql.SparkSession,
      jobs: Seq[(Seq[String], String)], maxBlocks: Int = MaxBlocks,
      maxBytes: Long = MaxBytes): Seq[String] = {
    if (jobs.isEmpty) return Nil
    val confMap: Map[String, String] = {
      val b = Map.newBuilder[String, String]
      val it = spark.sessionState.newHadoopConf().iterator()
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    spark.sparkContext.parallelize(jobs, math.min(jobs.size, 64))
      .flatMap { case (srcs, dst) =>
        val c = new Configuration()
        confMap.foreach { case (k, v) => c.set(k, v) }
        Option.when(stitch(c, srcs.map(new HPath(_)), new HPath(dst),
          maxBlocks, maxBytes).isEmpty)(dst)
      }.collect().toSeq
  }
}
