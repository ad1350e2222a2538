package graft.exec

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.catalog.{CatalogOps, PartitionSpec, TableRef}

/** Table-maintenance operators a 100 TB lakehouse needs around the
  * materialization lifecycle (not in the reference, which delegates storage
  * management to MaxCompute):
  *
  *  - `compact`: small-file compaction — rewrite partitions whose file
  *    count exceeds a threshold, bounding output file size via
  *    `maxRecordsPerFile`. Incremental strategies append/rewrite per-delta;
  *    after many cycles a partition accumulates files, and scan cost at
  *    scale is dominated by file-open overhead. Only offending partitions
  *    are rewritten (partition-scoped, same one-data-pass discipline as
  *    AtomicWriter).
  *  - `analyze`: table + column statistics (ANALYZE TABLE) so the
  *    cost-based optimizer has row counts / NDVs for broadcast and join
  *    reorder decisions.
  */
object Maintenance {

  /** File count per partition (relative partition path → #data files),
    * from one walk of the table root: every registered partition lives at
    * `<root>/<k=v…>`. */
  def partitionFileCounts(spark: SparkSession, target: TableRef,
      partition: PartitionSpec): Map[String, Int] =
    partitionFileStats(spark, target, partition)
      .map { case (rel, (n, _)) => rel -> n }

  /** [[partitionFileCounts]] plus total data bytes per partition — the
    * same single metadata listing (FileStatus already carries lengths), so
    * size-aware decisions (e.g. the tile-parallel rewrite gate in
    * [[zorderCompact]]) cost no extra I/O. */
  def partitionFileStats(spark: SparkSession, target: TableRef,
      partition: PartitionSpec): Map[String, (Int, Long)] = {
    val root = AtomicWriter.tableDir(spark, target)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val depth = partition.partitionColumns.size
    val leaves =
      if (depth == 0) Seq("" -> root)
      else AtomicWriter.partitionDirs(fs, root, depth)
        .map(rel => rel -> new org.apache.hadoop.fs.Path(root, rel))
    leaves.map { case (rel, dir) =>
      val data =
        try fs.listStatus(dir).toSeq.filter(AtomicWriter.isDataFile)
        catch { case _: java.io.FileNotFoundException => Nil }
      rel -> (data.size, data.map(_.getLen).sum)
    }.toMap
  }

  private val HiveDefaultPartition = AtomicWriter.HiveDefaultPartition

  /** Compact partitions with more than `maxFiles` data files. Each is
    * rewritten through the atomic partition swap; untouched partitions keep
    * their files byte-identical. One writing task per partition (that IS
    * the compaction — parallelism comes from compacting many partitions at
    * once), with file size bounded by `maxRecordsPerFile` (0 = single file
    * per partition). Directory names are Hive-unescaped and the
    * null-partition sentinel maps to IS NULL, so escaped values (':', '%')
    * and NULL partitions compact correctly. Returns the compacted paths. */
  def compact(spark: SparkSession, target: TableRef, partition: PartitionSpec,
      maxFiles: Int = 8, maxRecordsPerFile: Long = 0L): Seq[String] = {
    require(partition.partitionColumns.nonEmpty, "compact needs a partitioned table")
    val offending = partitionFileCounts(spark, target, partition)
      .filter(_._2 > maxFiles).keys.toSeq.sorted
    if (offending.nonEmpty) {
      val rows = spark.table(target.render).filter(partitionConds(offending))
      val confKey = "spark.sql.files.maxRecordsPerFile"
      val prev = spark.conf.get(confKey, "0")
      try {
        spark.conf.set(confKey, maxRecordsPerFile.toString)
        AtomicWriter.overwritePartitions(spark, rows, target, partition)
      } finally spark.conf.set(confKey, prev)
    }
    offending
  }

  /** `k1=v1/k2=v2` relative partition paths → a row filter on the partition
    * columns. Spark routes BOTH null and '' partition values into the
    * default-partition dir — a rewrite must pick up both, or the swap
    * discards the ''-valued rows. */
  private def partitionConds(offending: Seq[String]): org.apache.spark.sql.Column =
    offending.map { rel =>
      rel.split("/").map { seg =>
        val Array(k, v) = seg.split("=", 2)
        val uv = AtomicWriter.unescapePathName(v)
        if (uv == HiveDefaultPartition)
          col(k).isNull || col(k).cast("string") === ""
        else col(k).cast("string") === uv
      }.reduce(_ && _)
    }.reduce(_ || _)

  /** Z-ORDER compaction for CATALOG tables — the [[Layout]] degradation→
    * maintenance story (q34/q36/q37 prove it on path-based directories)
    * carried through the committer seam: partitions whose file count
    * exceeds `maxFiles` (incremental appends land one unclustered file per
    * partition per run) are rewritten CLUSTERED on the Morton z-value of
    * (`xCol`, `yCol`) and swapped in atomically by the partition swap (the
    * `clusterBy` ordering travels through [[Committer.stageAndCommit]]).
    * Untouched partitions are never staged, so their files stay
    * byte-identical.
    *
    * The quantization stats persist as TABLE PROPERTIES
    * (`graft.zorder.{cols,xlo,xhi,ylo,yhi,bits}`) on first use — the
    * catalog-table analog of the path layout's `_zstats` sidecar — so
    * every later maintenance pass costs ∝ the offending partitions only
    * (re-deriving stats from current data would both rescan the table AND
    * shift every tile boundary). A second call on a compacted table finds
    * nothing offending and returns Nil without touching a file.
    *
    * `maxRecordsPerFile` bounds rows per output file (0 = one file per
    * partition): rows land z-SORTED, so each rolled file covers a narrow
    * contiguous z-range and file/row-group footer min-max prune filtered
    * scans on BOTH keys — file k of a partition holds exactly z-ranks
    * [k·m, (k+1)·m), a pure function of the data when `tiebreak` makes
    * the order total (m34 value-matches the measured spans against DuckDB
    * recomputing them from that arithmetic).
    *
    * Parallelism is SIZE-ADAPTIVE (r18 — guide §2.5 stragglers): small
    * offending partitions keep the one-writing-task-per-partition shape of
    * [[compact]] (at 1000 small partitions that is 1000 independent
    * tasks), but a partition whose data bytes exceed
    * `spark.graft.zorder.parallelMinBytes` (default 512 MB) would make
    * that one task sort and rewrite hundreds of GB alone — a straggler/OOM
    * at the 100 TB grade. Such rewrites take the TILE-PARALLEL path: the
    * exact z-rank of every row is computed distributively (per-(partition,
    * z-cell) counts → prefix-sum offsets over the ≤4^bits cells → intra-
    * cell row_number over the tiebreak — every window is cell-sized, never
    * partition-sized), each row's target file is `rank div m`, and the
    * write repartitions on (partition cols, file) so MANY tasks write one
    * partition concurrently. File CONTENTS are identical to the
    * single-task path — file k still holds exactly z-ranks [k·m,(k+1)·m),
    * because every whole-file group sorts (z, tiebreak)-contiguously
    * within its task and the roll lands exactly on group boundaries — so
    * the m34 value-match and the determinism contract are unchanged
    * (ZorderTableSpec proves per-file content equality of the two paths).
    * The parallel path needs `maxRecordsPerFile > 0` (one file per
    * partition is inherently one writer) and a non-empty tiebreak (the
    * rank is only defined under a total order). It costs one extra narrow
    * aggregate pass over the offending rows — noise next to the sort+write
    * it parallelizes. `bits`, once persisted, is part of the layout: a
    * conflicting explicit value is refused loudly (omit it to use the
    * persisted one). The untouched tail of a 100 TB table is never read.
    * Returns the compacted relative partition paths. */
  def zorderCompact(spark: SparkSession, target: TableRef,
      partition: PartitionSpec, xCol: String, yCol: String,
      maxFiles: Int = 8, bits: Int = UnspecifiedBits,
      maxRecordsPerFile: Long = 0L,
      tiebreak: Seq[String] = Nil): Seq[String] = {
    require(partition.partitionColumns.nonEmpty,
      "zorderCompact needs a partitioned table")
    val stats = partitionFileStats(spark, target, partition)
      .filter(_._2._1 > maxFiles)
    val offending = stats.keys.toSeq.sorted
    if (offending.isEmpty) return Nil
    val (st, tb) = zorderTableStats(spark, target, xCol, yCol, bits, tiebreak)
    val rows = spark.table(target.render).filter(partitionConds(offending))
    val z = graft.exec.Layout.zValue(
      col(xCol), lit(st.xlo), lit(st.xhi),
      col(yCol), lit(st.ylo), lit(st.yhi), st.bits)
    val minBytes = spark.conf
      .getOption("spark.graft.zorder.parallelMinBytes")
      .map(_.toLong).getOrElse(512L * 1024 * 1024)
    // PER-PARTITION routing (r19; ADVICE r18): only partitions whose bytes
    // cross the gate take the tile-parallel frame. The r18 form routed
    // EVERY offending partition through it as soon as one crossed — 1000
    // cold offenders paid the extra aggregate + window + join for one hot
    // neighbor. Cold offenders keep the one-task-per-partition shape.
    val hotPaths = stats.collect {
      case (rel, (_, bytes)) if bytes >= minBytes => rel
    }.toSeq.sorted
    val parallel = maxRecordsPerFile > 0 && tb.nonEmpty && hotPaths.nonEmpty
    val (outRows, distOn) =
      if (!parallel) (rows, Seq.empty[String])
      else {
        val pc = partition.partitionColumns
        val fc = ZFileCol
        // withColumn REPLACES an existing column of the same name — a
        // table that happens to carry one of the helper names would be
        // silently corrupted, so refuse loudly (reserved, like
        // clusterAwareSplit's __cs_* columns)
        val clash = rows.columns.toSet & ZHelperCols
        require(clash.isEmpty,
          s"zorderCompact: table carries reserved helper column(s) " +
            s"${clash.mkString(", ")} — rename them (or raise " +
            "spark.graft.zorder.parallelMinBytes to keep the " +
            "single-task path, which uses no helpers)")
        val hotFrame = tileParallelFrame(
          spark.table(target.render).filter(partitionConds(hotPaths)),
          pc, z, tb, maxRecordsPerFile)
        val coldPaths = offending.filterNot(hotPaths.toSet)
        val out =
          if (coldPaths.isEmpty) hotFrame
          else {
            // cold offenders ride along with a CONSTANT file 0: the
            // (pcols, file) repartition then routes each cold partition
            // whole into ONE sorting+writing task — the same shape (and
            // by the clusterBy sort the same file contents) as the
            // distributeOn-free single-task path, with none of the tile
            // frame's aggregate/window/join cost.
            hotFrame.unionByName(spark.table(target.render)
              .filter(partitionConds(coldPaths)).withColumn(fc, lit(0L)))
          }
        (out, Seq(fc))
      }
    val confKey = "spark.sql.files.maxRecordsPerFile"
    val prev = spark.conf.get(confKey, "0")
    try {
      spark.conf.set(confKey, maxRecordsPerFile.toString)
      AtomicWriter.overwritePartitions(spark, outRows, target, partition,
        clusterBy = z +: tb.map(col), distributeOn = distOn)
    } finally spark.conf.set(confKey, prev)
    offending
  }

  /** The tile-parallel rewrite's reserved helper column names (a user
    * column colliding with one is refused loudly). */
  private[graft] val ZFileCol = "__graft_zfile"
  private[graft] val ZHelperCols =
    Set("__graft_zcell", "__graft_zn", "__graft_zoff", ZFileCol)

  /** The tile-parallel rewrite frame for HOT partitions (r18, fused r19):
    * the exact z-rank of every row computed distributively — per-(partition,
    * z-cell) counts (map-side combined, ≤ 4^bits rows per partition) →
    * prefix-sum offsets over the cell table (a window over CELLS, never
    * data) → `file = rank DIV maxRecordsPerFile` — returning the input rows
    * plus the [[ZFileCol]] helper the committer repartitions on.
    *
    * One r19 change over the r18 shape, cost-only (the fc values are
    * identical by arithmetic, so file contents cannot move):
    *
    *  - **The offsets join is PINNED broadcast** (VERDICT r18): the cell
    *    table is ≤ hot-partitions × 4^bits narrow rows; relying on the
    *    auto-broadcast threshold risks a silent sort-merge join that adds
    *    a data-side sort at the 100 TB grade. With very many hot
    *    partitions × bits ≥ 13 the pinned build side can grow to ~100s of
    *    MB — split the maintenance call before that point.
    *
    * A boundary-cell split (route whole-file cells map-side, window only
    * the cells straddling a file boundary — VERDICT r18's "fuse the two
    * shuffles") was BUILT AND MEASURED in r19 and rejected: Catalyst
    * cannot share the scan between the two branches, so the hot rows were
    * scanned (and the cell aggregate rebuilt) once per branch — 8 scans
    * in the plan, 27.1 s vs 9.0 s same-window for this full-window form
    * on the 8M-row one-hot-partition probe. The (pcols, cell) exchange of
    * narrow rows is cheaper than a second full scan+join at every scale
    * we can measure; a single giant cell still serializes its window (the
    * degenerate-(x,y) caveat from r18 stands).
    *
    * File-content contract unchanged from r18: file k of a partition holds
    * exactly z-ranks [k·m,(k+1)·m) — every whole-file group sorts
    * (z, tiebreak)-contiguously within its writing task and the
    * `maxRecordsPerFile` roll lands exactly on group boundaries
    * (ZorderTableSpec proves per-file content equality vs the single-task
    * path). Requires a TOTAL order: `tb` must be a unique tiebreak within
    * (partition, x, y) — with duplicate (z, tiebreak) tuples row_number
    * breaks ties arbitrarily and reruns may chunk files differently. */
  private[graft] def tileParallelFrame(rows: org.apache.spark.sql.DataFrame,
      pc: Seq[String], z: org.apache.spark.sql.Column, tb: Seq[String],
      maxRecordsPerFile: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val Seq(zc, nc, oc, fc) =
      Seq("__graft_zcell", "__graft_zn", "__graft_zoff", ZFileCol)
    val m = maxRecordsPerFile
    val rowsZ = rows.withColumn(zc, z)
    // exact per-cell counts: map-side combined to ≤ 4^bits rows per
    // offending partition
    val cells = rowsZ.groupBy((pc :+ zc).map(col): _*)
      .agg(count(lit(1)).as(nc))
    // each cell's global rank offset within its partition: a window over
    // the CELL TABLE (≤ 4^bits rows/partition), never the data
    val wOff = Window.partitionBy(pc.map(col): _*).orderBy(col(zc))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = cells
      .withColumn(oc, coalesce(sum(col(nc)).over(wOff), lit(0L)))
      .drop(nc)
    // intra-cell rank over the tiebreak: windows are cell-sized, so no
    // task ever sorts a whole hot partition
    val wCell = Window.partitionBy((pc :+ zc).map(col): _*)
      .orderBy(tb.map(col): _*)
    rowsZ.join(broadcast(offsets), pc :+ zc)
      .withColumn(fc, col(oc) + row_number().over(wCell) - lit(1L))
      .withColumn(fc, expr(s"$fc DIV ${m}L"))
      .drop(zc, oc)
  }

  /** Sentinel default for `bits`: "use the persisted layout's value (or 8
    * on first use)". An explicit value conflicting with a persisted layout
    * is refused loudly (ADVICE r17) — bits shift every tile boundary, so a
    * table has one bits the way it has one column pair. */
  val UnspecifiedBits: Int = -1

  private val ZProp = "graft.zorder."

  private[exec] def tableProps(spark: SparkSession,
      target: TableRef): Map[String, String] =
    spark.sessionState.catalog.getTableMetadata(target.ident).properties

  /** The table's persisted z-layout parameters, established on first use:
    * read from table properties when present (a later compact must quantize
    * with the ORIGINAL boundaries or every already-clustered file shifts
    * tiles; the tiebreak travels too, so the deterministic file contents
    * survive across maintenance passes AND callers — [[maintainTable]]
    * passes none), else one narrow min/max aggregate over the table,
    * persisted via ALTER TABLE. Loud on a column mismatch — one table has
    * one layout. */
  private def zorderTableStats(spark: SparkSession, target: TableRef,
      xCol: String, yCol: String, bits: Int,
      tiebreak: Seq[String]): (Layout.ZStats, Seq[String]) = {
    val props = tableProps(spark, target)
    props.get(ZProp + "cols") match {
      case Some(cs) =>
        require(cs == s"$xCol,$yCol",
          s"zorderCompact: ${target.render} is laid out on ($cs), not " +
            s"($xCol,$yCol) — one table has one z layout")
        val persisted = props.getOrElse(ZProp + "tiebreak", "")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        // the tiebreak is part of the layout: a silently-honored different
        // order would change which rows roll into which file — the exact
        // determinism m34 value-matches — so a conflicting request is as
        // loud as a cols mismatch (pass Nil to use the persisted one)
        require(tiebreak.isEmpty || persisted.isEmpty ||
            tiebreak == persisted,
          s"zorderCompact: ${target.render} persisted tiebreak " +
            s"(${persisted.mkString(",")}) differs from the requested " +
            s"(${tiebreak.mkString(",")}) — one table has one z layout")
        // bits is part of the layout exactly like cols and tiebreak (it
        // shifts every tile boundary) — an explicit conflicting value is
        // as loud as a cols mismatch, not silently overridden (ADVICE r17)
        require(bits == UnspecifiedBits ||
            bits == props(ZProp + "bits").toInt,
          s"zorderCompact: ${target.render} is laid out at bits=" +
            s"${props(ZProp + "bits")}, not bits=$bits — one table has " +
            "one z layout (omit bits to use the persisted value)")
        (Layout.ZStats(
          props(ZProp + "xlo").toLong, props(ZProp + "xhi").toLong,
          props(ZProp + "ylo").toLong, props(ZProp + "yhi").toLong,
          props(ZProp + "bits").toInt, blocks = 0L),
          if (tiebreak.nonEmpty) tiebreak else persisted)
      case None =>
        val effBits = if (bits == UnspecifiedBits) 8 else bits
        val r = spark.table(target.render).agg(
          min(col(xCol)).cast("long"), max(col(xCol)).cast("long"),
          min(col(yCol)).cast("long"), max(col(yCol)).cast("long"))
          .collect()(0) // one row — layout establishment, never per-pass
        require(!r.isNullAt(0) && !r.isNullAt(2),
          s"zorderCompact: ${target.render} has no non-null ($xCol,$yCol) rows")
        val st = Layout.ZStats(r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), effBits, blocks = 0L)
        spark.sql(s"ALTER TABLE ${target.render} SET TBLPROPERTIES (" +
          s"'${ZProp}cols'='$xCol,$yCol', '${ZProp}xlo'='${st.xlo}', " +
          s"'${ZProp}xhi'='${st.xhi}', '${ZProp}ylo'='${st.ylo}', " +
          s"'${ZProp}yhi'='${st.yhi}', '${ZProp}bits'='${st.bits}', " +
          s"'${ZProp}tiebreak'='${tiebreak.mkString(",")}')")
        (st, tiebreak)
    }
  }

  /** A [[maintainTable]] pass's actions, for audit. */
  final case class TableMaintainReport(recovered: Seq[String],
    compacted: Seq[String], zordered: Boolean, analyzed: Boolean)

  /** ONE scheduled call that keeps a partitioned TABLE healthy on disk —
    * the table-side sibling of [[graft.llm.IndexStore.maintain]],
    * composed in the safe order:
    *
    *  1. [[recover]] — sweep crash leftovers FIRST (a crashed swap's
    *     trash dir may hold the only copy of a partition; compacting a
    *     torn table would bake the tear in);
    *  2. compaction of offending partitions — [[zorderCompact]] when the
    *     table carries a persisted z layout (`graft.zorder.*` table
    *     properties; the columns, quantization boundaries and tiebreak
    *     all travel with the table, so the scheduler needs no per-table
    *     knowledge), plain [[compact]] otherwise;
    *  3. [[analyze]] — the CBO should see the post-compact state, and
    *     statistics are exactly as stale as the data that just moved.
    *
    * Each step is ∝ its own work (leftovers, offending partitions,
    * stats), never ∝ table size; a quiet table costs one directory walk
    * and a no-op. */
  def maintainTable(spark: SparkSession, target: TableRef,
      partition: PartitionSpec, maxFiles: Int = 8,
      maxRecordsPerFile: Long = 0L,
      runAnalyze: Boolean = true): TableMaintainReport = {
    val recovered = recover(spark, target)
    val zCols = tableProps(spark, target).get(ZProp + "cols")
      .map(_.split(",", 2)).collect { case Array(x, y) => (x, y) }
    val compacted = zCols match {
      case Some((x, y)) => zorderCompact(spark, target, partition, x, y,
        maxFiles = maxFiles, maxRecordsPerFile = maxRecordsPerFile)
      case None => compact(spark, target, partition, maxFiles,
        maxRecordsPerFile)
    }
    if (runAnalyze) analyze(spark, target)
    TableMaintainReport(recovered, compacted, zCols.nonEmpty, runAnalyze)
  }

  /** ANALYZE TABLE (+ all columns): feeds the cost-based optimizer. */
  def analyze(spark: SparkSession, target: TableRef,
      withColumns: Boolean = true): Unit = {
    spark.sql(s"ANALYZE TABLE ${target.render} COMPUTE STATISTICS")
    if (withColumns)
      spark.sql(s"ANALYZE TABLE ${target.render} COMPUTE STATISTICS FOR ALL COLUMNS")
  }

  /** Sweep the crash leftovers of the staged-swap machinery for one table
    * and return the actions taken (for audit). Handles, in order:
    *
    *  1. `<t>__graft_old[_<stamp>]` with the target MISSING: the crash fell
    *     between the two table renames of overwriteTable — the old table is
    *     the only copy; rename the LATEST back (stamps sort chronologically).
    *  2. Abandoned helper tables (`__graft_stg[_<stamp>]`, `__graft_old…`
    *     with the target present, `__dbt_tmp`): staged data that never
    *     swapped in — drop.
    *  3. `.graft_trash` / `.graft_trash_<stamp>` dirs:
    *     partitions whose live dir is MISSING are restored from the trash
    *     copy (+ re-registered); copies whose live dir exists are deleted.
    *     3b. a crashed race-loser's marker-stamped staged dir nested INSIDE
    *     a live partition dir (`<dir>/<sameLeafName>` with `._graft_swap_*`)
    *     is moved aside into the loser's trash stamp — readers stop seeing
    *     the torn partition; the next recover purges the aside copy.
    *  4. Orphan partition dirs — partition dirs under the root that no
    *     catalog partition references (a swap killed after moving a NEW
    *     partition's dir in, before its ADD PARTITION) — deleted.
    *
    * Concurrency: a live swap's staging table or trash dir looks exactly
    * like a crash leftover, so recover sweeps nothing while a writer of
    * this table holds a fresh [[WriterLease]]: every stamped artifact it
    * sweeps is made inside one ([[AtomicWriter.overwriteTable]],
    * [[AtomicWriter.overwritePartitions]]). */
  def recover(spark: SparkSession, target: TableRef): Seq[String] = {
    val actions = scala.collection.mutable.ListBuffer[String]()
    // a LIVE writer lease (heartbeated presence marker, [[WriterLease]])
    // is the "writer in flight" signal. Refuse to sweep anything while
    // one is fresh; a crashed writer's marker stops beating and ages out
    // of the ceiling.
    val live = WriterLease.liveWriters(spark, target)
    if (live.nonEmpty)
      return Seq(s"SKIPPED recover of ${target.render} — live writer " +
        s"lease(s) ${live.mkString(", ")} present (heartbeated; a crashed " +
        "writer's lease ages out at spark.graft.lease.maxAgeMs)")
    val cat = spark.sessionState.catalog
    def exists(r: TableRef) = CatalogOps.exists(spark, r)
    val tmp = target.copy(name = target.name + "__dbt_tmp")

    val db = target.database.getOrElse(cat.getCurrentDatabase)
    def tablesWithPrefix(p: String): Seq[String] =
      cat.listTables(db).map(_.table)
        .filter(t => t == p || t.startsWith(p + "_")).sorted
    val oldPrefix = target.name + "__graft_old"

    if (!exists(target)) tablesWithPrefix(oldPrefix).lastOption.foreach { o =>
      val latest = target.copy(name = o)
      spark.sql(s"ALTER TABLE ${latest.render} RENAME TO ${target.render}")
      AtomicWriter.repairPartitionLocations(spark, target)
      actions += s"restored ${target.render} from ${latest.render}"
    }
    val staleHelpers =
      (tablesWithPrefix(target.name + "__graft_stg") ++ tablesWithPrefix(oldPrefix))
        .map(t => target.copy(name = t)) ++ Seq(tmp).filter(exists)
    staleHelpers.foreach { r =>
      spark.sql(s"DROP TABLE IF EXISTS ${r.render}")
      actions += s"dropped abandoned ${r.render}"
    }
    if (!exists(target)) return actions.toSeq

    val ident = target.ident
    val meta = cat.getTableMetadata(ident)
    val root = new org.apache.hadoop.fs.Path(meta.location)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val depth = meta.partitionColumnNames.size

    def ls(dir: org.apache.hadoop.fs.Path) =
      try fs.listStatus(dir).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }

    // 3. trash dirs: restore what the live table lost, drop the rest
    if (depth > 0) ls(root).filter(e => e.isDirectory &&
        e.getPath.getName.startsWith(".graft_trash")).foreach { t =>
      // the trash may hold the ONLY copy of a partition — purge it only if
      // every stranded partition restored cleanly; a failed rename-back
      // leaves the trash in place (and says so) rather than destroying
      // the last recoverable state
      var restoreFailed = false
      AtomicWriter.partitionDirs(fs, t.getPath, depth).foreach { rel =>
        val live = new org.apache.hadoop.fs.Path(t.getPath.getParent, rel)
        if (!fs.exists(live)) {
          fs.mkdirs(live.getParent)
          if (fs.rename(new org.apache.hadoop.fs.Path(t.getPath, rel), live)) {
            spark.sql(s"ALTER TABLE ${target.render} ADD IF NOT EXISTS " +
              s"PARTITION (${AtomicWriter.specOf(rel)})")
            actions += s"restored partition $rel from ${t.getPath.getName}"
          } else {
            restoreFailed = true
            actions += s"RESTORE FAILED for $rel — ${t.getPath.getName} kept"
          }
        }
      }
      if (!restoreFailed) {
        fs.delete(t.getPath, true)
        actions += s"cleared ${t.getPath.getName}"
      }
    }

    // 3b. nested swap leftovers: a loser of the same-partition
    // rename-nesting race that CRASHED between its nesting rename and its
    // own nest check leaves its marker-stamped staged dir
    // nested inside the winner's live partition dir (<dir>/<sameLeafName>
    // carrying ._graft_swap_<stamp>) — Spark's recursive leaf-file listing
    // would read BOTH writers' files (torn partition) until the next swap
    // of that partition. Move it aside under the loser's own trash stamp;
    // step 3 of the NEXT recover purges the copy once the live dir is
    // confirmed present (or restores from it if the live dir has meanwhile
    // vanished). Runs AFTER step 3 so the crashed loser's own trash dir
    // (same stamp) has already been cleared — if it still exists (a
    // restore failure kept it), skip rather than rename onto it (Hadoop
    // would nest again).
    if (depth > 0) AtomicWriter.partitionDirs(fs, root, depth).foreach { rel =>
      val live = new org.apache.hadoop.fs.Path(root, rel)
      val nested = new org.apache.hadoop.fs.Path(live, live.getName)
      ls(nested).map(_.getPath.getName)
        .find(_.startsWith("._graft_swap_"))
        .foreach { marker =>
          val stamp = marker.stripPrefix("._graft_swap_")
          val aside = new org.apache.hadoop.fs.Path(
            root, s".graft_trash_$stamp/$rel")
          if (fs.exists(aside))
            actions += s"SKIPPED nested swap leftover under $rel — " +
              s".graft_trash_$stamp/$rel still present; re-run recover"
          else {
            fs.mkdirs(aside.getParent)
            if (fs.rename(nested, aside))
              actions += s"moved nested swap leftover $rel/${live.getName} " +
                s"aside to .graft_trash_$stamp"
            else actions += s"MOVE FAILED for nested swap leftover under $rel"
          }
        }
    }

    // 4. orphan partition dirs: moved in by a swap that was killed before
    // its ADD PARTITION (liveness read AFTER step 3 re-registered any
    // partition it restored from the trash)
    if (depth > 0) {
      val livePaths = cat.listPartitions(ident).flatMap(_.storage.locationUri)
        .map(u => new org.apache.hadoop.fs.Path(u).toUri.getPath).toSet
      AtomicWriter.partitionDirs(fs, root, depth).foreach { rel =>
        val p = new org.apache.hadoop.fs.Path(root, rel)
        if (!livePaths.contains(p.toUri.getPath)) {
          fs.delete(p, true)
          actions += s"dropped orphan partition dir $rel"
        }
      }
    }
    actions.toSeq
  }

  /** Compact a STREAMING EXPORT directory (`batch=<id>/shard=<s>` slabs
    * accumulated by [[graft.streaming.Streaming.exportIngestStream]]) into
    * a `shard=<s>` layout with exactly one data file per shard: after N
    * micro-batches a consumer opens O(N·shards) small files, the tax that
    * dominates scan cost at 100 TB long before bytes do. Each shard's
    * per-batch files are ROW-GROUP-STITCHED ([[ParquetStitch]], r16) into
    * one file, one task per shard, zero decode and zero shuffle; when any
    * shard's stitch declines (schema drift, fragmentation bounds) the whole
    * export falls back to one shuffle on (shard). Either way the batch
    * provenance column is dropped (the batched original remains the
    * lineage record) and row membership is bit-preserved: the caller
    * audits the compacted dir against the pre-compact manifest
    * ([[graft.llm.Sampling.auditShardExport]]). The output is built in
    * private staging and replaces `outDir` in one [[Publish.dirSwap]]:
    * readers see the previous output or the new one, and a failure leaves
    * the previous one in place. Returns the compacted frame. */
  def compactExport(spark: SparkSession, exportDir: String, outDir: String,
      nShards: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.hadoop.fs.{Path => HPath}
    val conf = spark.sessionState.newHadoopConf()
    val root = new HPath(exportDir)
    val fs = root.getFileSystem(conf)
    // STITCH path (r16): the per-batch shard files' row groups copy
    // byte-for-byte into one file per shard ([[ParquetStitch]]) — no
    // decode, no re-encode, no shuffle of exported rows; one distributed
    // task per shard. When any shard's stitch declines (schema drift
    // across batches, or more than `ParquetStitch.MaxBlocks` accumulated
    // row groups, past which fragmentation would defeat the point) the
    // whole export takes the classic shuffle-and-rewrite, which also
    // resets the fragmentation.
    val byShard: Map[String, Seq[HPath]] =
      (if (fs.exists(root)) fs.listStatus(root).toSeq else Nil)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
        .flatMap(b => fs.listStatus(b.getPath).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("shard=")))
        .flatMap(sh => fs.listStatus(sh.getPath).toSeq
          .filter(AtomicWriter.isDataFile)
          .map(f => sh.getPath.getName -> f.getPath))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val out = new HPath(outDir)
    val staged = Publish.staging(out)
    def classic(): Unit = {
      spark.read.parquet(exportDir)
        .drop("batch")
        .repartition(nShards, col("shard"))
        .write.partitionBy("shard").mode("overwrite").parquet(staged.toString)
    }
    if (byShard.isEmpty) classic()
    else {
      byShard.keys.foreach { sh =>
        if (!fs.mkdirs(new HPath(staged, sh)))
          throw new java.io.IOException(s"compactExport: cannot create " +
            s"$staged/$sh")
      }
      // each task reads its shard's footers once and declines before it
      // copies anything; the re-encode overwrites any stitched shard
      val declined = ParquetStitch.run(spark, byShard.toSeq.sortBy(_._1).map {
        case (sh, files) => (files.map(_.toString),
          new HPath(new HPath(staged, sh), "part-stitched.parquet").toString)
      })
      if (declined.nonEmpty) classic()
    }
    Publish.dirSwap(fs, staged, out)
    spark.read.parquet(outDir)
  }

  /** Count data files under a directory tree (hidden `_`/`.` entries
    * excluded) — the before/after measurement for [[compactExport]].
    * Driver-side metadata walk, bounded by the export's file count. */
  def dataFileCount(spark: SparkSession, dir: String): Int = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(p: org.apache.hadoop.fs.Path): Int = {
      val stats =
        try fs.listStatus(p).toSeq
        catch { case _: java.io.FileNotFoundException => Nil }
      stats.map { s =>
        if (s.isFile) (if (AtomicWriter.isDataFile(s)) 1 else 0)
        else walk(s.getPath)
      }.sum
    }
    walk(root)
  }
}
