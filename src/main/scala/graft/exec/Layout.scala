package graft.exec

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.IntegralDivide
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering so parquet
  * file-level min/max statistics prune scans filtered on ANY of the layout
  * columns — the 100 TB counterpart of single-key sorting, which gives
  * perfect pruning on one column and none on the others.
  *
  * Everything here is pure `Column` integer arithmetic (quantize → bit
  * interleave), so the z-value computation stays inside whole-stage codegen
  * and — being engine-agnostic math — is reproducible verbatim in the
  * DuckDB oracle (q34). The write path is one `repartitionByRange` on the
  * z-value + an in-partition sort: exactly one shuffle, the same cost shape
  * as a plain sorted write, with the locality benefit in every dimension.
  */
object Layout {

  /** Quantize `c` into `[0, 2^bits)` by linear range scaling. `lo`/`hi` are
    * COLUMNS (ride a broadcast one-row stats table — never a driver
    * collect). Exact integer arithmetic: `(c - lo) * 2^bits div (hi - lo + 1)`
    * — a long-domain column spanning more than 2^(63-bits) would silently
    * wrap the multiply in 64-bit arithmetic and the clamp would then file
    * rows into WRONG edge cells, so the scale is DUAL-PATH: pure long
    * arithmetic when the span fits and the value sits inside the stats
    * range (every row of every sane corpus — the q34 hot loop; an always-
    * decimal form measured ~5× slower per row at sf1, 0.9 → 4.4 s), and
    * DECIMAL(38,0) — exact for any long span, ≤ 2^64 · 2^bits « 10^38 —
    * for wide domains and out-of-stats values. The guard compares the span
    * in double with 1% slack: borderline spans merely take the exact slow
    * path, never a wrapped fast one. Clamped so out-of-stats values (a
    * stale stats row) land in the edge cells instead of corrupting the
    * interleave. */
  def quantize(c: Column, lo: Column, hi: Column, bits: Int): Column = {
    val cells = 1L << bits
    val dec = "decimal(38,0)"
    // EXACT integer division (Column./ is fractional division — a floor()
    // over it can be off by one near integer boundaries, which the oracle's
    // exact `//` would catch)
    def idiv(n: Column, d: Column): Column =
      GraftColumnBridge.column(IntegralDivide(
        GraftColumnBridge.expression(n), GraftColumnBridge.expression(d),
        evalMode = org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY))
    val cl = c.cast("long"); val lol = lo.cast("long"); val hil = hi.cast("long")
    val spanFits = (hil.cast("double") - lol.cast("double"))
      .lt(lit((Long.MaxValue >> bits).toDouble * 0.99))
    val fast = idiv((cl - lol) * lit(cells), hil - lol + lit(1L))
    val exact = idiv((c.cast(dec) - lo.cast(dec)) * lit(cells),
      hi.cast(dec) - lo.cast(dec) + lit(1L)).cast("long")
    val q = when(spanFits && cl.between(lol, hil), fast).otherwise(exact)
    least(greatest(q, lit(0L)), lit(cells - 1))
  }

  /** Morton-interleave two already-quantized `bits`-wide values: bit i of
    * `qx` lands at position 2i+1, bit i of `qy` at 2i. Unrolled shift/mask
    * terms — a flat codegen-friendly expression tree, no UDF, no loop at
    * runtime. */
  def interleave(qx: Column, qy: Column, bits: Int): Column =
    (0 until bits).map { i =>
      (shiftright(qx, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))) +
        (shiftright(qy, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)))
    }.reduce(_ + _)

  /** Z-value for two numeric columns with stats columns attached (see
    * [[withZValue]] for the self-contained form). */
  def zValue(x: Column, xLo: Column, xHi: Column,
             y: Column, yLo: Column, yHi: Column, bits: Int): Column =
    interleave(quantize(x, xLo, xHi, bits), quantize(y, yLo, yHi, bits), bits)

  /** Attach a `z` column for (`xCol`, `yCol`): computes the min/max stats as
    * a one-row aggregate and broadcasts it onto every row (one narrow extra
    * scan, no driver collect), then the pure-arithmetic z-value. */
  def withZValue(df: DataFrame, xCol: String, yCol: String,
                 bits: Int = 8, as: String = "z"): DataFrame = {
    val stats = df.agg(
      min(col(xCol)).cast("long").as("__xlo"),
      max(col(xCol)).cast("long").as("__xhi"),
      min(col(yCol)).cast("long").as("__ylo"),
      max(col(yCol)).cast("long").as("__yhi"))
    df.crossJoin(broadcast(stats))
      .withColumn(as, zValue(col(xCol), col("__xlo"), col("__xhi"),
        col(yCol), col("__ylo"), col("__yhi"), bits))
      .drop("__xlo", "__xhi", "__ylo", "__yhi")
  }

  /** Write `df` z-ordered on (`xCol`, `yCol`) into ~`nFiles` files: one
    * file per z-TILE (z div blockSize, boundaries aligned to power-of-two
    * Morton blocks), rows sorted within each file by raw z so row groups
    * inherit the locality too. Tile alignment matters: a file whose z-run
    * straddles an unaligned quadrant boundary covers up to the FULL key
    * range in one dimension (Morton jumps quadrants), wrecking its footer
    * min/max; aligned blocks are square-ish tiles with ~√(1/nFiles) of
    * each key's span.
    *
    * The tile→file assignment is EXACT, not sampled: rows hash-repartition
    * on the tile id (each tile wholly in one task) and the write is
    * `partitionBy` the tile, so every tile becomes exactly one file whose
    * contents are a pure function of the data — `repartitionByRange` here
    * would ride RangePartitioner's SAMPLED boundaries, and a sampling miss
    * merges two Morton quadrants into one file that then spans a full key
    * range (the q36 r15 flake). Still one shuffle, same cost shape as any
    * clustered write.
    *
    * The tile files (flattened by one [[Publish.replace]] inside the
    * staging dir) and the `_zstats` sidecar are built in private staging
    * and replace `path` in one [[Publish.dirSwap]]: a failure leaves an
    * existing layout untouched.
    * `df` may read `path` itself ([[zorderCompact]]).
    *
    * The tile size is rounded UP to the next power of FOUR: `4^bits /
    * nFiles` is only Morton-block-aligned when `nFiles` is itself a power
    * of two, and an unaligned tile silently loses the measured-alignment
    * property this scaladoc promises. Rounding up means a non-power-of-two
    * `nFiles` yields FEWER, still-aligned files (e.g. nFiles=10, bits=8 →
    * 4 aligned tiles) — locality is never sacrificed to hit a file count. */
  def zorderWrite(df: DataFrame, xCol: String, yCol: String, nFiles: Int,
                  path: String, bits: Int = 8): Unit = {
    val blocks = tileBlocks(nFiles, bits)
    val tiles = (1L << (2 * bits)) / blocks
    val nParts = math.max(1L, math.min(tiles, 4096L)).toInt
    val spark = df.sparkSession
    val target = new HPath(path)
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    val staged = Publish.staging(target)
    // the layout stats are COLLECTED once (4 longs — the one bounded
    // driver read this module makes): they parameterize the row-side
    // quantization as literals AND persist as the `_zstats` sidecar that
    // anchors incremental maintenance (`zorderCompactIncremental` must
    // tile appended rows with the ORIGINAL write's quantization, or tile
    // boundaries would shift under the existing files)
    val st = df.agg(
      min(col(xCol)).cast("long"), max(col(xCol)).cast("long"),
      min(col(yCol)).cast("long"), max(col(yCol)).cast("long")).collect()(0)
    val hasRows = !st.isNullAt(0)
    val (xlo, xhi, ylo, yhi) =
      if (hasRows) (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
      else (0L, 0L, 0L, 0L)
    // sort carries (__tile, z); dropping z afterwards leaves the writer's
    // required ordering (the partition column prefix) provably satisfied,
    // so no re-sort is inserted and the within-tile z order survives
    df.withColumn("z", zValue(col(xCol), lit(xlo), lit(xhi),
        col(yCol), lit(ylo), lit(yhi), bits))
      .withColumn("__tile", expr(s"z div $blocks"))
      .repartition(nParts, col("__tile"))
      .sortWithinPartitions(col("__tile"), col("z"))
      .drop("z")
      .write.mode("overwrite").partitionBy("__tile").parquet(staged.toString)
    val flat = flatTiles(fs, staged)
    Publish.replace(fs, staged, Nil, flat)
    fs.listStatus(staged).filter(_.isDirectory).foreach(d => fs.delete(d.getPath, true))
    fs.delete(new HPath(staged, "_SUCCESS"), false)
    // empty input writes no per-tile files; keep the read contract (a
    // schema-bearing empty parquet directory) that a plain write provides
    if (flat.isEmpty)
      df.limit(0).write.mode("overwrite").parquet(staged.toString)
    if (hasRows) {
      val out = fs.create(statsPath(staged), false)
      try out.write(s"$xlo,$xhi,$ylo,$yhi,$bits,$blocks".getBytes("UTF-8"))
      finally out.close()
    }
    Publish.dirSwap(fs, staged, target)
  }

  /** The data files of a `partitionBy("__tile")` write under `dir`, each
    * with its flat name `tile-K-<file>` (file K IS tile K; `_`-prefixed
    * names are hidden from readers, and hidden sidecars stay behind). */
  private def flatTiles(fs: FileSystem, dir: HPath): Seq[(HPath, String)] =
    fs.listStatus(dir).toSeq.filter(_.isDirectory).flatMap { d =>
      fs.listStatus(d.getPath).toSeq.filter(AtomicWriter.isDataFile).map(f =>
        f.getPath -> s"${d.getPath.getName.stripPrefix("__").replace('=', '-')}-${
          f.getPath.getName}")
    }

  /** The persisted layout parameters of a z-ordered directory — the
    * `_zstats` sidecar [[zorderWrite]] leaves beside the tile files. */
  case class ZStats(xlo: Long, xhi: Long, ylo: Long, yhi: Long,
      bits: Int, blocks: Long)

  private def statsPath(dir: HPath) = new HPath(dir, "_zstats")

  /** Read a layout's `_zstats` sidecar, None when the directory predates
    * it (or was never zorderWrite-laid). */
  def readStats(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[ZStats] = {
    val p = statsPath(new HPath(path))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    val a = txt.split(',')
    Some(ZStats(a(0).toLong, a(1).toLong, a(2).toLong, a(3).toLong,
      a(4).toInt, a(5).toLong))
  }

  /** Aligned Morton tile size (cells per file) for `nFiles` at `bits`:
    * `4^bits / nFiles` rounded UP to the next power of four. */
  def tileBlocks(nFiles: Int, bits: Int = 8): Long = {
    val raw = math.max(1L, (1L << (2 * bits)) / nFiles)
    var blocks = 1L
    while (blocks < raw) blocks <<= 2
    blocks
  }

  /** INCREMENTAL z-order maintenance with cost ∝ APPENDED DATA, not
    * table size — the 100 TB form of [[zorderCompact]], which rewrites
    * the whole directory. Appended slab files (anything not named
    * `tile-…` by [[zorderWrite]]'s flatten) are read, their rows routed
    * to tiles with the ORIGINAL write's persisted quantization
    * (`_zstats` — re-deriving stats from current data would shift tile
    * boundaries under every existing file), and ONLY the touched tiles
    * change; untouched tile files are not rewritten, not moved, not read.
    * Rows outside the original stats range clamp into edge tiles
    * ([[quantize]]'s contract) — a corpus whose domain has genuinely
    * outgrown the layout should take a full [[zorderCompact]], which
    * re-anchors the stats.
    *
    * A touched tile is ROW-GROUP-MERGED, not rewritten (r16): the new
    * rows land as a z-sorted parquet file per tile, and the tile's
    * replacement is stitched ([[ParquetStitch]]) — the old file's row
    * groups COPY byte-for-byte (no decode, no re-encode, no shuffle of
    * stored rows) and the new rows' row group appends after them, so
    * the touched-tile cost is a sequential byte copy + the appended
    * rows' encode, ∝ appended data + touched bytes streamed, never a
    * distributed rewrite of stored rows. Per-file
    * footer min/max — the pruning contract — is the union over row
    * groups and is preserved exactly; WITHIN the merged file each row
    * group stays z-sorted but the file is no longer globally z-sorted
    * (the Delta/Iceberg merge-on-write tradeoff — file-level pruning,
    * which is what the layout exists for, is unaffected).
    *
    * Each touched tile takes one of three routes. A tile with ONE old
    * file and one staged file is merged by [[ParquetStitch.run]] (one
    * distributed task per tile). The stitch reads both footers and
    * declines when the merged file would pass `maxRowGroupsPerTile` row
    * groups (row groups accumulate one per compact) or when the two
    * schemas differ (e.g. a slab appended with reordered columns — a
    * byte copy under a mismatched writer schema would mis-stitch); a
    * declined tile takes the read-union-rewrite, which re-sorts it into
    * one row group — read amplification is capped by construction. A
    * tile with NO old file publishes its staged file as is. Any other
    * shape (a legacy multi-file tile) is rewritten too.
    *
    * Swap discipline: every replacement file is built completely in
    * private staging ([[Publish.staging]]) first; then one
    * [[Publish.replace]] moves the old touched-tile files and the slabs
    * out and the staged files in. A failure restores the layout as it
    * was, and the staging dirs go either way.
    * Returns the touched tile ids (empty = nothing to do). */
  def zorderCompactIncremental(spark: org.apache.spark.sql.SparkSession,
      path: String, xCol: String, yCol: String,
      maxRowGroupsPerTile: Int = 8): Seq[Long] = {
    require(maxRowGroupsPerTile >= 2,
      "maxRowGroupsPerTile >= 2 — a merge always yields at least two row groups")
    val target = new HPath(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = target.getFileSystem(conf)
    val st = readStats(spark, path).getOrElse(throw new IllegalStateException(
      s"zorderCompactIncremental: $path has no _zstats sidecar (not a " +
        "zorderWrite layout, or one predating r16) — run the full " +
        "zorderCompact, which re-anchors the layout stats"))
    val data = fs.listStatus(target).toSeq.filter(AtomicWriter.isDataFile)
    val (tileFiles, slabs) = data.partition(_.getPath.getName.startsWith("tile-"))
    if (slabs.isEmpty) return Nil
    def withTile(df: DataFrame): DataFrame =
      df.withColumn("__tile",
        GraftColumnBridge.column(IntegralDivide(
          GraftColumnBridge.expression(
            zValue(col(xCol), lit(st.xlo), lit(st.xhi),
              col(yCol), lit(st.ylo), lit(st.yhi), st.bits)),
          GraftColumnBridge.expression(lit(st.blocks)),
          evalMode = org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY)))
    val slabRows = withTile(
      spark.read.parquet(slabs.map(_.getPath.toString): _*))
    // touched tiles: a bounded driver read (≤ the tile count — a dense
    // small-cardinality id space by construction)
    val touched = slabRows.select(col("__tile")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val tileIdOf: FileStatus => Long =
      s => s.getPath.getName.stripPrefix("tile-").takeWhile(_.isDigit).toLong
    val oldByTile = tileFiles.filter(s => touched.contains(tileIdOf(s)))
      .groupBy(tileIdOf)
    val stagedNew = Publish.staging(target)
    val stagedRw = Publish.staging(target)
    val stagedMg = Publish.staging(target)
    try {
      // stage ONLY the slab rows, z-sorted, one file per touched tile —
      // stored tile rows never enter a Spark plan on the merge path
      slabRows
        .withColumn("z", zValue(col(xCol), lit(st.xlo), lit(st.xhi),
          col(yCol), lit(st.ylo), lit(st.yhi), st.bits))
        .repartition(math.max(1, math.min(touched.size, 4096)), col("__tile"))
        .sortWithinPartitions(col("__tile"), col("z"))
        .drop("z")
        .write.mode("overwrite").partitionBy("__tile").parquet(stagedNew.toString)
      val stagedFiles: Map[Long, Seq[HPath]] = fs.listStatus(stagedNew).toSeq
        .filter(_.isDirectory).map { d =>
          d.getPath.getName.stripPrefix("__tile=").toLong ->
            fs.listStatus(d.getPath).toSeq
              .filter(AtomicWriter.isDataFile)
              .map(_.getPath)
        }.toMap
      // row-group merges: a tile with one old file and one staged file is
      // stitched, distributed one task per tile; each task is a sequential
      // byte copy of two files' row groups plus a footer write, verified
      // against the source footers' row count. The stitch declines on
      // schema drift or past `maxRowGroupsPerTile` MERGED blocks (a hot
      // tile's staged slab can itself carry several row groups, so the
      // read-amplification cap holds by construction)
      val pairs = touched.filter(t => oldByTile.get(t).exists(_.size == 1) &&
        stagedFiles.get(t).exists(_.size == 1))
      def mergedFile(t: Long) = new HPath(stagedMg, s"tile-$t-rg.parquet")
      val declined = if (pairs.isEmpty) Set.empty[String] else {
        if (!fs.mkdirs(stagedMg))
          throw new java.io.IOException(
            s"zorderCompactIncremental: cannot create $stagedMg")
        ParquetStitch.run(spark, pairs.map(t =>
          (Seq(oldByTile(t).head.getPath.toString, stagedFiles(t).head.toString),
            mergedFile(t).toString)), maxRowGroupsPerTile, Long.MaxValue).toSet
      }
      val merged = pairs.filterNot(t => declined(mergedFile(t).toString)).toSet
      // a brand-new tile publishes its staged file as is
      val fresh = touched.filter(t => !oldByTile.contains(t) &&
        stagedFiles.get(t).exists(_.size == 1)).toSet
      // everything else — a declined merge, a legacy multi-file tile — is
      // rewritten: old rows ∪ staged rows of those tiles, re-sorted
      val rwTiles = touched.filterNot(t => merged(t) || fresh(t))
      if (rwTiles.nonEmpty) {
        val oldPaths = rwTiles.flatMap(t =>
          oldByTile.getOrElse(t, Nil).map(_.getPath.toString))
        val newPaths = rwTiles.flatMap(t =>
          stagedFiles.getOrElse(t, Nil).map(_.toString))
        // old and staged files may disagree on column ORDER (a reordered
        // slab is one of the reasons a tile lands here) — read separately,
        // union by name
        val union = Seq(oldPaths, newPaths).filter(_.nonEmpty)
          .map(ps => spark.read.parquet(ps: _*))
          .reduce(_ unionByName _)
        withTile(union)
          .withColumn("z", zValue(col(xCol), lit(st.xlo), lit(st.xhi),
            col(yCol), lit(st.ylo), lit(st.yhi), st.bits))
          .repartition(math.max(1, math.min(rwTiles.size, 4096)), col("__tile"))
          .sortWithinPartitions(col("__tile"), col("z"))
          .drop("z")
          .write.mode("overwrite").partitionBy("__tile").parquet(stagedRw.toString)
      }
      // swap: every replacement exists in staging; the touched old tiles
      // and the slabs move out and the merged, new and rewritten tiles move
      // in, in one replace that rolls back on any failure
      val stamp = Committer.newStamp()
      val in = touched.flatMap { t =>
        if (merged(t)) Seq(mergedFile(t) -> s"tile-$t-rg-$stamp.parquet")
        else if (fresh(t)) {
          val f0 = stagedFiles(t).head
          Seq(f0 -> s"tile-$t-${f0.getName}")
        } else Nil // rewritten tiles flatten below
      } ++ (if (rwTiles.nonEmpty) flatTiles(fs, stagedRw) else Nil)
      Publish.replace(fs, target,
        (oldByTile.values.flatten ++ slabs).map(_.getPath.getName).toSeq, in)
      touched
    } finally Seq(stagedNew, stagedRw, stagedMg).foreach(fs.delete(_, true))
  }

  /** FULL Z-order maintenance: restore a z-ordered directory whose
    * locality has degraded under plain appends. An appended slab lands as
    * unclustered files whose footer min/max spans the full key range —
    * every filtered scan reads them, and the table degrades monotonically
    * with each append (the m06-style ingest pattern). The fix is a
    * re-cluster: [[zorderWrite]] of the directory onto itself, which
    * swaps the new layout in with [[Publish.dirSwap]]. Rows are preserved
    * exactly (one shuffle, the same cost as the original write);
    * LayoutSpec measures pruning restored to fresh-write level, and q36
    * value-matches the row set through the compact. Path-based layouts
    * only (q34's shape); CATALOG tables get the same machinery through
    * [[Maintenance.zorderCompact]] + the committer seam. */
  def zorderCompact(spark: org.apache.spark.sql.SparkSession, path: String,
      xCol: String, yCol: String, nFiles: Int, bits: Int = 8): Unit =
    zorderWrite(spark.read.parquet(path), xCol, yCol, nFiles, path, bits)
}
