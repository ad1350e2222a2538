package graft

import org.apache.spark.sql.functions._
import graft.catalog.{PartitionSpec, TableRef}
import graft.exec.{AtomicWriter, Maintenance, ParquetStitch}
import graft.mat.Materializer
import graft.mat.Materializer.IncrementalStrategy

/** Z-order compaction for CATALOG tables ([[Maintenance.zorderCompact]]):
  * the Layout degradation→maintenance story carried through the partition
  * swap ([[graft.exec.Committer]]) — only offending partitions are
  * rewritten (clustered, multi-file, tight per-file spans), the untouched
  * partition's files stay byte-stable, the quantization stats persist as
  * table properties, and a second pass is quiet. Plus the ParquetStitch
  * contracts: a predecessor attempt's partial destination never wedges a
  * retry, a stitch that declines writes nothing and routes
  * [[Maintenance.compactExport]] to its re-encode fallback, and no other
  * source reads a parquet footer. */
class ZorderTableSpec extends SparkSpec {

  import spark.implicits._

  // pt(i): "c" rows live entirely in quarter 0 (i%16==0 ⇒ i%4==0), so the
  // quarter-1..3 appends (which exclude "c") leave pt=c at its single CTAS
  // file, while a/b — decoupled from the quarter residue via (i/4)%2 —
  // receive rows from EVERY quarter and accumulate 4 unclustered files
  private def fixture(n: Int) = (0 until n).map { i =>
    val pt = if (i % 16 == 0) "c" else if ((i / 4) % 2 == 0) "a" else "b"
    (i.toLong, (i % 64).toLong, ((i * 37 / 64) % 64).toLong, pt)
  }.toDF("id", "x", "y", "pt")

  /** Measured pruning: #distinct files holding pt=`flag` rows of Morton
    * quadrant 0 (x<32 ∧ y<32 — with bits=6 exactly the z-prefix [0,1024)).
    * Degraded appends spread the quadrant over every file; the z-sorted
    * rewrite packs it into the FIRST rolled file. */
  private def quadrantFiles(ref: TableRef, flag: String): Long =
    spark.table(ref.render)
      .filter(col("pt") === flag && col("x") < 32 && col("y") < 32)
      .select(input_file_name()).distinct().count()

  private def untouchedFiles(ref: TableRef): Seq[(String, Long, Long)] = {
    val names = spark.table(ref.render).filter(col("pt") === "c")
      .select(input_file_name()).distinct().as[String].collect().toSeq
    val conf = spark.sessionState.newHadoopConf()
    names.map { u =>
      val p = new org.apache.hadoop.fs.Path(new java.net.URI(u))
      val st = p.getFileSystem(conf).getFileStatus(p)
      (p.getName, st.getLen, st.getModificationTime)
    }.sortBy(_._1)
  }

  test("[rename] zorderCompact: only offending partitions rewritten " +
      "clustered; untouched byte-stable; stats persisted; quiet second pass") {
    val db = "zt"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db")
    val ref = TableRef(s"$db.events_z")
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val all = fixture(4096)
    def quarter(q: Int) = all.filter(col("id") % 4 === q)
    Materializer.table(spark, ref, quarter(0), part)
    (1 to 3).foreach(q => Materializer.incremental(spark, ref,
      quarter(q).filter(col("pt") =!= "c"),
      IncrementalStrategy.Append, partition = part))
    val before = Maintenance.partitionFileCounts(spark, ref, part)
    assert(before == Map("pt=a" -> 4, "pt=b" -> 4, "pt=c" -> 1), before)
    // degraded: the quadrant-0 rows are smeared over every slab
    assert(quadrantFiles(ref, "a") == 4)
    val cBefore = untouchedFiles(ref)
    assert(cBefore.size == 1)
    // fixture sanity: quadrant 0 must FIT the first rolled file, so the
    // post-compact probe count of 1 is a guarantee, not luck
    val nmax = spark.table(ref.render).filter(col("pt") =!= "c")
      .groupBy("pt").count().as[(String, Long)].collect().map(_._2).max
    val m = (nmax + 2) / 3
    val nQuad = spark.table(ref.render)
      .filter(col("pt") === "a" && col("x") < 32 && col("y") < 32).count()
    assert(nQuad > 0 && nQuad <= m, s"fixture: quadrant $nQuad vs file $m")
    val compacted = Maintenance.zorderCompact(spark, ref, part,
      "x", "y", maxFiles = 3, bits = 6, maxRecordsPerFile = m,
      tiebreak = Seq("id"))
    assert(compacted == Seq("pt=a", "pt=b"), compacted)
    val after = Maintenance.partitionFileCounts(spark, ref, part)
    assert(after == Map("pt=a" -> 3, "pt=b" -> 3, "pt=c" -> 1),
      s"compacted partitions must roll into exactly ⌈n/m⌉ files: $after")
    // untouched partition: same file names, lengths, mtimes
    assert(untouchedFiles(ref) == cBefore,
      "untouched partition must stay byte-stable across the swap")
    // rows ride through exactly
    assert(spark.table(ref.render).select("id").as[Long].collect().sorted
      .toSeq == (0 until 4096).map(_.toLong))
    // clustering is MEASURED: quadrant 0 is a z-prefix, so the z-sorted
    // rewrite packs it into one file (it fit m, asserted above)
    assert(quadrantFiles(ref, "a") == 1,
      "quadrant-0 probe must touch exactly one clustered file")
    // stats persisted for ∝-offending later passes
    val props = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(ref.render))
      .properties
    assert(props.get("graft.zorder.cols").contains("x,y"), props)
    // quiet second pass: nothing offending, nothing touched
    assert(Maintenance.zorderCompact(spark, ref, part, "x", "y",
      maxFiles = 3, bits = 6, maxRecordsPerFile = m,
      tiebreak = Seq("id")).isEmpty)
    // one table, one layout: a different column pair is refused loudly
    // (fresh degraded table carrying the persisted layout properties — the
    // layout check, not append-after-compact file placement, is what this
    // assertion is about)
    val ref2 = TableRef(s"$db.events_z2")
    Materializer.table(spark, ref2, quarter(0), part)
    (1 to 3).foreach(q => Materializer.incremental(spark, ref2,
      quarter(q).filter(col("pt") =!= "c"),
      IncrementalStrategy.Append, partition = part))
    spark.sql(s"ALTER TABLE ${ref2.render} SET TBLPROPERTIES (" +
      "'graft.zorder.cols'='x,y', 'graft.zorder.xlo'='0', " +
      "'graft.zorder.xhi'='63', 'graft.zorder.ylo'='0', " +
      "'graft.zorder.yhi'='63', 'graft.zorder.bits'='6')")
    val boom = intercept[IllegalArgumentException] {
      Maintenance.zorderCompact(spark, ref2, part, "y", "x", maxFiles = 3)
    }
    assert(boom.getMessage.contains("one z layout"), boom.getMessage)
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("maintainTable: recover, then z-aware compact (layout read from " +
      "table properties incl. tiebreak), then analyze — one call") {
    spark.sql("DROP DATABASE IF EXISTS ztm CASCADE")
    spark.sql("CREATE DATABASE ztm")
    val ref = TableRef("ztm.events_z")
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val all = fixture(4096)
    def quarter(q: Int) = all.filter(col("id") % 4 === q)
    Materializer.table(spark, ref, quarter(0), part)
    (1 to 3).foreach(q => Materializer.incremental(spark, ref,
      quarter(q).filter(col("pt") =!= "c"),
      IncrementalStrategy.Append, partition = part))
    // first pass establishes the persisted layout (cols, stats, TIEBREAK)
    assert(Maintenance.zorderCompact(spark, ref, part, "x", "y",
      maxFiles = 2, bits = 6, tiebreak = Seq("id")).nonEmpty)
    // re-degrade + plant a crash leftover; from here the scheduler knows
    // NOTHING about the layout — maintainTable reads it from the table
    (1 to 2).foreach(_ => Materializer.incremental(spark, ref,
      all.filter(col("pt") =!= "c").limit(200),
      IncrementalStrategy.Append, partition = part))
    spark.sql("CREATE TABLE ztm.events_z__dbt_tmp AS SELECT 1 AS x")
    val r = Maintenance.maintainTable(spark, ref, part, maxFiles = 2)
    assert(r.recovered.size == 1 && r.zordered && r.analyzed, r)
    assert(r.compacted == Seq("pt=a", "pt=b"), r)
    assert(!spark.catalog.tableExists("ztm.events_z__dbt_tmp"))
    val counts = Maintenance.partitionFileCounts(spark, ref, part)
    assert(counts == Map("pt=a" -> 1, "pt=b" -> 1, "pt=c" -> 1), counts)
    // tiebreak persisted: the property round-trips
    val props = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(ref.render))
      .properties
    assert(props.get("graft.zorder.tiebreak").contains("id"), props)
    // analyze fed the catalog statistics
    assert(spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(ref.render))
      .stats.flatMap(_.rowCount).isDefined,
      "ANALYZE should leave a catalog row count")
    // a table with NO persisted layout takes the plain compact path
    val ref2 = TableRef("ztm.plain")
    Materializer.table(spark, ref2, quarter(0), part)
    (1 to 3).foreach(q => Materializer.incremental(spark, ref2,
      quarter(q), IncrementalStrategy.Append, partition = part))
    val r2 = Maintenance.maintainTable(spark, ref2, part, maxFiles = 2)
    assert(!r2.zordered && r2.compacted.nonEmpty, r2)
    spark.sql("DROP DATABASE IF EXISTS ztm CASCADE")
  }

  test("zorderCompact tile-parallel path (partition over the byte gate): " +
      ">1 writing task per hot partition, file CONTENTS identical to the " +
      "single-task path, quiet second pass, loud bits mismatch") {
    spark.sql("DROP DATABASE IF EXISTS ztpar CASCADE")
    spark.sql("CREATE DATABASE ztpar")
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val all = fixture(4096)
    def degrade(ref: TableRef): Unit = {
      def quarter(q: Int) = all.filter(col("id") % 4 === q)
      Materializer.table(spark, ref, quarter(0), part)
      (1 to 3).foreach(q => Materializer.incremental(spark, ref,
        quarter(q).filter(col("pt") =!= "c"),
        IncrementalStrategy.Append, partition = part))
    }
    val single = TableRef("ztpar.events_s")
    val par = TableRef("ztpar.events_p")
    degrade(single); degrade(par)
    val nmax = spark.table(single.render).filter(col("pt") =!= "c")
      .groupBy("pt").count().as[(String, Long)].collect().map(_._2).max
    val m = (nmax + 2) / 3
    // identical call; only the parallelism gate differs
    Maintenance.zorderCompact(spark, single, part, "x", "y",
      maxFiles = 3, bits = 6, maxRecordsPerFile = m, tiebreak = Seq("id"))
    spark.conf.set("spark.graft.zorder.parallelMinBytes", "1")
    // at spec scale the ~25 KB file groups would be AQE-coalesced into one
    // task (at the 100 TB grade each group is file-sized — far above the
    // advisory size — so coalescing never merges them); disable coalescing
    // here so the task-count assertion reflects the at-scale behavior
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      Maintenance.zorderCompact(spark, par, part, "x", "y",
        maxFiles = 3, bits = 6, maxRecordsPerFile = m, tiebreak = Seq("id"))
      // quiet second pass holds on the parallel path too
      assert(Maintenance.zorderCompact(spark, par, part, "x", "y",
        maxFiles = 3, bits = 6, maxRecordsPerFile = m,
        tiebreak = Seq("id")).isEmpty)
    } finally {
      spark.conf.unset("spark.graft.zorder.parallelMinBytes")
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
    // same ⌈n/m⌉ roll counts
    assert(Maintenance.partitionFileCounts(spark, par, part) ==
      Maintenance.partitionFileCounts(spark, single, part))
    // file CONTENTS are the determinism contract (file k = z-ranks
    // [k·m,(k+1)·m)): the per-file id-sets must match EXACTLY across the
    // two paths — ids are unique, so the set of per-file sorted id lists
    // identifies the chunking
    def fileSets(ref: TableRef): Set[Seq[Long]] =
      spark.table(ref.render).filter(col("pt") =!= "c")
        .select(input_file_name().as("f"), col("id"))
        .as[(String, Long)].collect().groupBy(_._1)
        .values.map(_.map(_._2).sorted.toSeq).toSet
    assert(fileSets(par) == fileSets(single),
      "tile-parallel rewrite must produce byte-equivalent file chunking")
    // and the hot partitions were actually written by >1 task: distinct
    // part-<taskId> prefixes in the partition dir (the single-task path
    // rolls c000/c001/... under ONE task prefix)
    def taskPrefixes(ref: TableRef, flag: String): Set[String] =
      spark.table(ref.render).filter(col("pt") === flag)
        .select(input_file_name()).distinct().as[String].collect()
        .map(u => u.split("/").last.split("-").take(2).mkString("-")).toSet
    assert(taskPrefixes(single, "a").size == 1,
      s"single-task path: ${taskPrefixes(single, "a")}")
    assert(taskPrefixes(par, "a").size > 1,
      s"parallel path must spread a hot partition over >1 writing task: " +
        s"${taskPrefixes(par, "a")}")
    // bits is part of the persisted layout — a conflicting explicit value
    // is refused loudly (ADVICE r17)
    // (maxFiles=0 makes the compacted partitions count as offending so the
    // call reaches the layout check instead of early-returning Nil)
    val boom = intercept[IllegalArgumentException] {
      Maintenance.zorderCompact(spark, par, part, "x", "y",
        maxFiles = 0, bits = 8, maxRecordsPerFile = m, tiebreak = Seq("id"))
    }
    assert(boom.getMessage.contains("one z layout"), boom.getMessage)
    spark.sql("DROP DATABASE IF EXISTS ztpar CASCADE")
  }

  test("zorderCompact per-partition gate (r19): hot offender tile-parallel " +
      "(>1 writer task), cold offender single-task, contents equal on both; " +
      "offsets join pinned broadcast") {
    spark.sql("DROP DATABASE IF EXISTS ztmix CASCADE")
    spark.sql("CREATE DATABASE ztmix")
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    // asymmetric fixture: a holds ~11/16 of the rows, b ~4/16 — the byte
    // gate can sit strictly between them. (i*13 % 16) decouples the a/b
    // split from the quarter residue, so every append feeds both.
    val all = (0 until 4096).map { i =>
      val pt = if (i % 16 == 0) "c" else if ((i * 13) % 16 < 12) "a" else "b"
      (i.toLong, (i % 64).toLong, ((i * 37 / 64) % 64).toLong, pt)
    }.toDF("id", "x", "y", "pt")
    def degrade(ref: TableRef): Unit = {
      def quarter(q: Int) = all.filter(col("id") % 4 === q)
      Materializer.table(spark, ref, quarter(0), part)
      (1 to 3).foreach(q => Materializer.incremental(spark, ref,
        quarter(q).filter(col("pt") =!= "c"),
        IncrementalStrategy.Append, partition = part))
    }
    val single = TableRef("ztmix.events_s")
    val par = TableRef("ztmix.events_p")
    degrade(single); degrade(par)
    val stats = Maintenance.partitionFileStats(spark, par, part)
    val (bytesA, bytesB) = (stats("pt=a")._2, stats("pt=b")._2)
    assert(bytesA > bytesB, s"fixture must be byte-asymmetric: $stats")
    val nmax = spark.table(single.render).filter(col("pt") =!= "c")
      .groupBy("pt").count().as[(String, Long)].collect().map(_._2).max
    val m = (nmax + 2) / 3
    Maintenance.zorderCompact(spark, single, part, "x", "y",
      maxFiles = 3, bits = 6, maxRecordsPerFile = m, tiebreak = Seq("id"))
    // gate strictly between the two offenders: a is hot, b is cold
    spark.conf.set("spark.graft.zorder.parallelMinBytes",
      ((bytesA + bytesB) / 2).toString)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      Maintenance.zorderCompact(spark, par, part, "x", "y",
        maxFiles = 3, bits = 6, maxRecordsPerFile = m, tiebreak = Seq("id"))
    } finally {
      spark.conf.unset("spark.graft.zorder.parallelMinBytes")
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
    assert(Maintenance.partitionFileCounts(spark, par, part) ==
      Maintenance.partitionFileCounts(spark, single, part))
    // contents identical across routing decisions (file k = z-ranks
    // [k·m,(k+1)·m) regardless of path)
    def fileSets(ref: TableRef, flag: String): Set[Seq[Long]] =
      spark.table(ref.render).filter(col("pt") === flag)
        .select(input_file_name().as("f"), col("id"))
        .as[(String, Long)].collect().groupBy(_._1)
        .values.map(_.map(_._2).sorted.toSeq).toSet
    assert(fileSets(par, "a") == fileSets(single, "a"),
      "hot partition: tile-parallel contents must match single-task")
    assert(fileSets(par, "b") == fileSets(single, "b"),
      "cold partition: contents must match the single-task twin")
    def taskPrefixes(ref: TableRef, flag: String): Set[String] =
      spark.table(ref.render).filter(col("pt") === flag)
        .select(input_file_name()).distinct().as[String].collect()
        .map(u => u.split("/").last.split("-").take(2).mkString("-")).toSet
    assert(taskPrefixes(par, "a").size > 1,
      s"hot offender must spread over >1 writer task: ${taskPrefixes(par, "a")}")
    assert(taskPrefixes(par, "b").size == 1,
      s"cold offender must keep ONE writer task: ${taskPrefixes(par, "b")}")
    // the offsets join is PINNED broadcast (VERDICT r18): the frame's plan
    // must carry a BroadcastHashJoin, never a sort-merge join of the data
    val z6 = graft.exec.Layout.zValue(
      col("x"), lit(0L), lit(63L), col("y"), lit(0L), lit(63L), 6)
    val frame = Maintenance.tileParallelFrame(
      spark.table(par.render).filter(col("pt").cast("string") === "a"),
      Seq("pt"), z6, Seq("id"), m)
    val fp = frame.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(fp.contains("BroadcastHashJoin"),
      s"offsets join must be broadcast-pinned:\n$fp")
    assert(!fp.contains("SortMergeJoin"),
      s"a sort-merge offsets join re-sorts the hot data side:\n$fp")
    spark.sql("DROP DATABASE IF EXISTS ztmix CASCADE")
  }

  test("zorderCompact rewrite frame: partition-pruned scan, ONE exchange, " +
      "in-partition sort (the 100 TB plan shape)") {
    spark.sql("DROP DATABASE IF EXISTS ztp CASCADE")
    spark.sql("CREATE DATABASE ztp")
    val ref = TableRef("ztp.events_z")
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    Materializer.table(spark, ref, fixture(1024), part)
    // the exact frame the committer seam builds for an offending set of
    // {a}: partition-filtered table scan → hash exchange on the partition
    // columns → sortWithinPartitions(pcols, z) — mirrored here because
    // the committers consume it internally
    val z = graft.exec.Layout.zValue(
      col("x"), lit(0L), lit(63L), col("y"), lit(0L), lit(63L), 6)
    val frame = spark.table(ref.render)
      .filter(col("pt").cast("string") === "a")
      .repartition(col("pt"))
      .sortWithinPartitions(col("pt"), z)
    val p = frame.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    // partition pruning: the filter must land on the scan's partition
    // dimension, never as a post-scan row filter over all partitions
    assert(p.contains("PartitionFilters") &&
      p.linesIterator.exists(l => l.contains("PartitionFilters") &&
        l.contains("pt")), s"partition filter not pruned:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"the rewrite must cost exactly one shuffle:\n$p")
    // the z sort is in-partition (global=false) — a global sort would be
    // a second, range-partitioning exchange
    assert(p.linesIterator.exists(l => l.contains("Sort") &&
      l.contains("false")), s"no in-partition sort:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"global sort leaked a range exchange:\n$p")
    spark.sql("DROP DATABASE IF EXISTS ztp CASCADE")
  }

  test("ParquetStitch.stitch: a predecessor attempt's partial destination " +
      "file never wedges a retry (temp-write + rename, exactly-once)") {
    val dir = java.nio.file.Files.createTempDirectory("stitchretry").toString
    val conf = spark.sessionState.newHadoopConf()
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.parquet(s"$dir/s1")
    Seq((3L, "c")).toDF("id", "v").coalesce(1).write.parquet(s"$dir/s2")
    def dataFile(sub: String) =
      new java.io.File(s"$dir/$sub").listFiles
        .filter(f => f.getName.endsWith(".parquet")).head.getPath
    val srcs = Seq(dataFile("s1"), dataFile("s2"))
      .map(new org.apache.hadoop.fs.Path(_))
    val dst = new org.apache.hadoop.fs.Path(s"$dir/out.parquet")
    // simulate a task that died mid-write: a partial (garbage) file at dst
    val fw = new java.io.FileOutputStream(s"$dir/out.parquet")
    fw.write("PAR1 partial garbage from a dead attempt".getBytes("UTF-8"))
    fw.close()
    val got = ParquetStitch.stitch(conf, srcs, dst)
    assert(got.contains(3L))
    assert(spark.read.parquet(dst.toString).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // and no temp leftovers
    val leftovers = new java.io.File(dir).listFiles
      .filter(_.getName.contains(".stitch-"))
    assert(leftovers.isEmpty, leftovers.map(_.getName).toSeq)
  }

  test("stitch declines a mismatched schema or an over-bound source set: " +
      "None, nothing written; compactExport re-encodes a drifted export") {
    val dir = java.nio.file.Files.createTempDirectory("stitchdecline").toString
    val conf = spark.sessionState.newHadoopConf()
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(s"$dir/s1")
    Seq(("b", 2L)).toDF("v", "id").coalesce(1).write.parquet(s"$dir/s2")
    Seq((3L, "c")).toDF("id", "v").coalesce(1).write.parquet(s"$dir/s3")
    def dataFile(sub: String) =
      new java.io.File(s"$dir/$sub").listFiles
        .filter(f => f.getName.endsWith(".parquet")).head
    def srcs(subs: String*) =
      subs.map(sub => new org.apache.hadoop.fs.Path(dataFile(sub).getPath))
    val dst = new org.apache.hadoop.fs.Path(s"$dir/out.parquet")
    def written() = new java.io.File(dir).list().toSeq
      .filter(n => n.contains("out.parquet") || n.contains(".stitch-"))
    // s1 and s3 share a schema: one row group each, 2 in all
    val bytes = srcs("s1", "s3").map(p =>
      new java.io.File(p.toUri.getPath).length).sum
    Seq(
      "schema mismatch" -> (() => ParquetStitch.stitch(conf, srcs("s1", "s2"), dst)),
      "no sources" -> (() => ParquetStitch.stitch(conf, Nil, dst)),
      "row groups" -> (() =>
        ParquetStitch.stitch(conf, srcs("s1", "s3"), dst, maxBlocks = 1)),
      "bytes" -> (() => ParquetStitch.stitch(conf, srcs("s1", "s3"), dst,
        maxBytes = bytes - 1))
    ).foreach { case (why, attempt) =>
      assert(attempt().isEmpty, s"$why: the stitch must decline")
      assert(written().isEmpty, s"$why: a declined stitch wrote ${written()}")
    }
    // at the bounds the same sources stitch
    assert(ParquetStitch.stitch(conf, srcs("s1", "s3"), dst, maxBlocks = 2,
      maxBytes = bytes).contains(2L))
    assert(spark.read.parquet(dst.toString).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L))
    // compactExport: reordered-column batches make the shard's stitch
    // task decline; the export takes the classic re-encode and still
    // compacts correctly
    val ex = s"$dir/export"
    new java.io.File(s"$ex/batch=1/shard=0").mkdirs()
    new java.io.File(s"$ex/batch=2/shard=0").mkdirs()
    java.nio.file.Files.copy(dataFile("s1").toPath,
      new java.io.File(s"$ex/batch=1/shard=0/part-0.parquet").toPath)
    java.nio.file.Files.copy(dataFile("s2").toPath,
      new java.io.File(s"$ex/batch=2/shard=0/part-0.parquet").toPath)
    val out = s"$dir/compacted"
    val df = Maintenance.compactExport(spark, ex, out, nShards = 1)
    assert(df.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    val outFiles = new java.io.File(s"$out/shard=0").listFiles
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName)
    assert(!outFiles.contains("part-stitched.parquet"),
      s"schema drift must take the re-encode path, got ${outFiles.toSeq}")
  }

  test("one stitch gate: only ParquetStitch reads a parquet footer") {
    // the stitch decides stitch-or-re-encode where it reads the source
    // footers; a caller that reads them too pays a second footer pass
    val footerRead = "readFooter|ParquetFileReader".r
    val retired = "StitchSchemaMismatch|stitchable".r
    val root = java.nio.file.Paths.get("src/main")
    val files = java.nio.file.Files.walk(root).iterator()
    val offenders = scala.collection.mutable.ListBuffer[String]()
    while (files.hasNext) {
      val f = files.next()
      if (f.toString.endsWith(".scala")) {
        val rel = root.relativize(f).toString
        val stitch = rel == "scala/graft/exec/ParquetStitch.scala"
        java.nio.file.Files.readAllLines(f).toArray.map(_.toString.trim)
          .zipWithIndex.foreach { case (code, i) =>
            val comment = code.startsWith("*") || code.startsWith("/*") ||
              code.startsWith("//")
            if (!comment && (retired.findFirstIn(code).isDefined ||
                (!stitch && footerRead.findFirstIn(code).isDefined)))
              offenders += s"$rel:${i + 1}: $code"
          }
      }
    }
    assert(offenders.isEmpty, "decide stitch-or-re-encode through " +
      s"ParquetStitch.stitch, not a footer read of your own: $offenders")
  }
}
