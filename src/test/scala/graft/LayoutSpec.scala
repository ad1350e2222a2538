package graft

import java.net.URI
import org.apache.hadoop.fs.{LocalFileSystem, Path => HPath}
import org.apache.spark.sql.functions._
import graft.exec.{ForkFreeRawLocalFileSystem, Layout}

/** The local filesystem under the `failmv` scheme, whose rename refuses
  * the moves [[FailingMoveFs.fail]] names: a spec registers it in the
  * session conf (`fs.failmv.impl`) to fail one step of a publish. */
class FailingMoveFs extends LocalFileSystem(new ForkFreeRawLocalFileSystem {
  override def getUri: URI = URI.create("failmv:///")
}) {
  override def getScheme: String = "failmv"
  override def rename(src: HPath, dst: HPath): Boolean =
    !FailingMoveFs.fail(src, dst) && super.rename(src, dst)
}

object FailingMoveFs {
  @volatile var fail: (HPath, HPath) => Boolean = (_, _) => false
}

/** Z-order layout: the pruning claim is MEASURED, not asserted — write the
  * same table z-ordered and single-key-sorted, recover each FILE's min/max
  * footer ranges (per-file aggregation over `input_file_name`, exactly the
  * stats a reader prunes against), and compare how many files a selective
  * predicate on the NON-sort column must touch. */
class LayoutSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** What a publish left beside the layout `base/z`, or inside it as
    * staging (`-tmp-`), trash (`-trash-`, `.graft_trash_`) or an old
    * `_zi*` sibling name. */
  private def debris(base: java.nio.file.Path): Seq[String] =
    new java.io.File(base.toString).list().toSeq.filter(_ != "z") ++
      new java.io.File(s"$base/z").list().toSeq.filter(n =>
        n.contains("-tmp-") || n.contains("-trash-") ||
          n.contains(".graft_trash_") || n.contains("_zi"))

  test("quantize + interleave are exact integer arithmetic") {
    import spark.implicits._
    val df = Seq((0L, 0L), (255L, 255L), (7L, 200L)).toDF("x", "y")
      .withColumn("qx", Layout.quantize(col("x"), lit(0L), lit(255L), 8))
      .withColumn("qy", Layout.quantize(col("y"), lit(0L), lit(255L), 8))
      .withColumn("z", Layout.interleave(col("qx"), col("qy"), 8))
    val got = df.select("z").as[Long].collect().toSeq
    // closed-form Morton values: (0,0)→0; (255,255)→65535; (7,200) bitwise
    def morton(x: Long, y: Long): Long =
      (0 until 8).map(i => (((x >> i) & 1) << (2 * i + 1)) | (((y >> i) & 1) << (2 * i))).sum
    assert(got == Seq(morton(0, 0), morton(255, 255), morton(7, 200)))
    assert(got.head == 0L && got(1) == 65535L)
  }

  test("interleave is a bijection on the quantized grid (generated pairs)") {
    import spark.implicits._
    // derandomized-but-dense sample of the 256×256 grid: every residue of
    // both coordinates appears; injectivity over it would fail on any
    // dropped/duplicated/misplaced bit
    val pairs = (0 until 4096).map(i => ((i * 37L) % 256, (i * 101L) % 256))
    val zs = pairs.toDF("x", "y")
      .select(Layout.interleave(col("x"), col("y"), 8).as("z"))
      .as[Long].collect()
    assert(zs.distinct.length == pairs.distinct.length, "interleave collided")
    assert(zs.forall(z => z >= 0 && z < 65536))
    // de-interleave recovers the inputs exactly
    def extract(z: Long, off: Int): Long =
      (0 until 8).map(i => ((z >> (2 * i + off)) & 1) << i).sum
    pairs.zip(zs).foreach { case ((x, y), z) =>
      assert(extract(z, 1) == x && extract(z, 0) == y, s"($x,$y) -> $z")
    }
  }

  test("quantize clamps values outside the stats range into edge cells") {
    import spark.implicits._
    val df = Seq(-50L, 500L).toDF("x")
      .withColumn("q", Layout.quantize(col("x"), lit(0L), lit(255L), 8))
    assert(df.select("q").as[Long].collect().toSeq == Seq(0L, 255L))
  }

  test("quantize is exact on wide long domains (no 64-bit wrap)") {
    import spark.implicits._
    // span 2^60+1 at bits=8: (c-lo)*256 reaches 2^67 — 64-bit arithmetic
    // would wrap and the clamp would file the row in a WRONG edge cell;
    // decimal scaling keeps it exact
    val hi = 1L << 60
    val df = Seq(0L, 1L << 59, hi).toDF("x")
      .withColumn("q", Layout.quantize(col("x"), lit(0L), lit(hi), 8))
    val got = df.select("q").as[Long].collect().toSeq
    def exact(c: BigInt): Long =
      ((c * 256) / (BigInt(hi) + 1)).toLong.max(0L).min(255L)
    assert(got == Seq(exact(0), exact(BigInt(1) << 59), exact(BigInt(hi))),
      s"wide-domain quantize wrapped: $got")
    // full long domain: lo=MinValue, hi=MaxValue — span 2^64 still exact
    val full = Seq(Long.MinValue, 0L, Long.MaxValue).toDF("x")
      .withColumn("q", Layout.quantize(col("x"),
        lit(Long.MinValue), lit(Long.MaxValue), 8))
      .select("q").as[Long].collect().toSeq
    assert(full == Seq(0L, 128L, 255L), s"full-domain quantize: $full")
  }

  test("zorderWrite keeps tile alignment for a non-power-of-two nFiles") {
    // nFiles=10 at bits=8: the raw tile 65536/10 is NOT Morton-aligned —
    // a straddling file would cover up to the FULL span of one key; the
    // rounded-up power-of-four tile (16384 = a 128×128 quadrant) bounds
    // every file's footer range to about half of each key's span
    val li = Tables.t(spark, "/root/testdata/sf0.01", "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
    val base = java.nio.file.Files.createTempDirectory("zorder10")
    Layout.zorderWrite(li, "l_partkey", "l_suppkey", 10, s"$base/z")
    def spans(key: String): Seq[Double] = {
      val rs = spark.read.parquet(s"$base/z")
        .groupBy(input_file_name().as("f"))
        .agg(min(col(key)).cast("long").as("lo"),
          max(col(key)).cast("long").as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
      val (glo, ghi) = (rs.map(_._1).min, rs.map(_._2).max)
      rs.map { case (lo, hi) => (hi - lo + 1).toDouble / (ghi - glo + 1) }
    }
    val (ps, ss) = (spans("l_partkey"), spans("l_suppkey"))
    info(s"per-file span fractions: part=${ps.map(d => f"$d%.2f")} " +
      s"supp=${ss.map(d => f"$d%.2f")}")
    assert(ps.forall(_ <= 0.65), s"partkey tile straddles a quadrant: $ps")
    assert(ss.forall(_ <= 0.65), s"suppkey tile straddles a quadrant: $ss")
  }

  test("zorderCompact restores fresh-write pruning after appends; rows exact") {
    val li = Tables.t(spark, "/root/testdata/sf0.01", "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val base = java.nio.file.Files.createTempDirectory("zmaint")
    val path = s"$base/z"
    Layout.zorderWrite(li.filter(col("l_orderkey") % 4 === 0),
      "l_partkey", "l_suppkey", 10, path)
    assert(debris(base).isEmpty, s"zorderWrite left debris: ${debris(base)}")
    (1 to 3).foreach { r =>
      li.filter(col("l_orderkey") % 4 === r).write.mode("append").parquet(path)
    }
    def worst(key: String): Double = {
      val rs = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min(col(key)).cast("long").as("lo"),
          max(col(key)).cast("long").as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
      val (glo, ghi) = (rs.map(_._1).min, rs.map(_._2).max)
      rs.map { case (lo, hi) => (hi - lo + 1).toDouble / (ghi - glo + 1) }.max
    }
    val checksumBefore = spark.read.parquet(path)
      .agg(count(lit(1)), sum(col("l_orderkey")), sum(col("l_partkey")))
      .collect().head
    // appended slabs are unclustered: some file spans ~the full key range
    assert(worst("l_partkey") > 0.9 || worst("l_suppkey") > 0.9,
      "appends should have degraded per-file spans")
    Layout.zorderCompact(spark, path, "l_partkey", "l_suppkey", 10)
    // fresh-write locality restored (the zorderWrite alignment bound)…
    assert(worst("l_partkey") <= 0.65, s"partkey span ${worst("l_partkey")}")
    assert(worst("l_suppkey") <= 0.65, s"suppkey span ${worst("l_suppkey")}")
    // …and the row set rode through exactly
    val checksumAfter = spark.read.parquet(path)
      .agg(count(lit(1)), sum(col("l_orderkey")), sum(col("l_partkey")))
      .collect().head
    assert(checksumBefore == checksumAfter,
      s"compact changed the rows: $checksumBefore -> $checksumAfter")
    assert(debris(base).isEmpty, s"compact left debris: ${debris(base)}")
  }

  test("z-order layout prunes on BOTH keys; single-key sort prunes on one") {
    // sf0.01: the sf0.001 supplier domain (10 keys) is too coarse for
    // 8-bit quantization to show tile locality through sampled range
    // boundaries — 100 keys is representative
    val li = Tables.t(spark, "/root/testdata/sf0.01", "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
    val base = java.nio.file.Files.createTempDirectory("zorder")
    val nFiles = 16
    Layout.zorderWrite(li, "l_partkey", "l_suppkey", nFiles, s"$base/z")
    li.repartitionByRange(nFiles, col("l_partkey"))
      .sortWithinPartitions(col("l_partkey"))
      .write.mode("overwrite").parquet(s"$base/pk")

    // per-file [min,max] of a key — the parquet footer range a scan prunes on
    def ranges(path: String, key: String): Seq[(Long, Long)] =
      spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min(col(key)).cast("long").as("lo"), max(col(key)).cast("long").as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    // fraction of files a 10%-band predicate on `key` must touch
    def touched(path: String, key: String): Double = {
      val rs = ranges(path, key)
      val (glo, ghi) = (rs.map(_._1).min, rs.map(_._2).max)
      val span = ghi - glo + 1
      val (plo, phi) = (glo + (span * 45) / 100, glo + (span * 55) / 100)
      rs.count { case (lo, hi) => hi >= plo && lo <= phi }.toDouble / rs.size
    }

    val zOnSupp = touched(s"$base/z", "l_suppkey")
    val pkOnSupp = touched(s"$base/pk", "l_suppkey")
    val zOnPart = touched(s"$base/z", "l_partkey")
    info(s"touched: z/supp=$zOnSupp pk/supp=$pkOnSupp z/part=$zOnPart")
    // the partkey-sorted layout cannot prune a suppkey band at all…
    assert(pkOnSupp >= 0.9, s"expected no pruning, got $pkOnSupp")
    // …the z-ordered layout prunes it to a strict subset, while still
    // pruning partkey bands (locality in BOTH dimensions)
    assert(zOnSupp <= 0.6, s"z-layout should prune suppkey bands: $zOnSupp")
    assert(zOnPart <= 0.6, s"z-layout should prune partkey bands: $zOnPart")
  }

  test("zorderCompactIncremental rewrites only touched tiles: untouched " +
    "files byte-stable, slabs absorbed, rows exact, second pass a no-op") {
    val li = Tables.t(spark, "/root/testdata/sf0.01", "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val base = java.nio.file.Files.createTempDirectory("zincr")
    val path = s"$base/z"
    Layout.zorderWrite(li.filter(col("l_orderkey") % 4 === 0),
      "l_partkey", "l_suppkey", 8, path)
    val st = Layout.readStats(spark, path).get
    // appends confined to the left half of the x domain: only the qx<128
    // tiles receive rows, the right-half tiles must ride through untouched
    val mid = st.xlo + (st.xhi - st.xlo) / 2
    (1 to 2).foreach { r =>
      li.filter(col("l_orderkey") % 4 === r && col("l_partkey") <= mid)
        .write.mode("append").parquet(path)
    }
    def files(): Map[String, (Long, Long)] =
      new java.io.File(path).listFiles.toSeq
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
        .map(f => f.getName -> (f.length, f.lastModified)).toMap
    val before = files()
    def checksum() = spark.read.parquet(path)
      .agg(count(lit(1)), sum(col("l_orderkey")), sum(col("l_partkey")))
      .collect().head
    val sumBefore = checksum()
    val touched = Layout.zorderCompactIncremental(spark, path,
      "l_partkey", "l_suppkey")
    assert(touched.nonEmpty, "slab rows must touch some tiles")
    assert(debris(base).isEmpty, s"compact left debris: ${debris(base)}")
    val after = files()
    // every surviving file is a tile file — the slabs were absorbed
    assert(after.keys.forall(_.startsWith("tile-")), after.keys.toSeq)
    // untouched tiles: same file, same bytes, same mtime — never rewritten
    val untouchedNames = before.keySet.filter(n => n.startsWith("tile-") &&
      !touched.exists(t => n.startsWith(s"tile-$t-")))
    assert(untouchedNames.nonEmpty,
      "the left-half append must leave some right-half tile untouched")
    untouchedNames.foreach { n =>
      assert(after.get(n).contains(before(n)),
        s"untouched tile $n was rewritten: ${before(n)} -> ${after.get(n)}")
    }
    // touched old tile files are gone (replaced by fresh ones)
    assert(before.keySet.filter(n => touched.exists(t =>
      n.startsWith(s"tile-$t-"))).forall(n => !after.contains(n)))
    // the row set rode through exactly
    assert(checksum() == sumBefore, "incremental compact changed the rows")
    // locality restored: every file's span bounded like a fresh write
    val rs = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("l_partkey")).cast("long").as("lo"),
        max(col("l_partkey")).cast("long").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    val (glo, ghi) = (rs.map(_._1).min, rs.map(_._2).max)
    val worst = rs.map { case (lo, hi) =>
      (hi - lo + 1).toDouble / (ghi - glo + 1) }.max
    assert(worst <= 0.65, s"incremental compact left a straddling file: $worst")
    // idempotent: with no slabs left, a second pass is a no-op
    assert(Layout.zorderCompactIncremental(spark, path,
      "l_partkey", "l_suppkey").isEmpty)
    assert(files() == after, "a no-op pass must not rewrite anything")
    assert(debris(base).isEmpty, s"no-op pass left debris: ${debris(base)}")
    // the stats sidecar anchors future increments
    assert(Layout.readStats(spark, path).contains(st))
    // a layout without the sidecar refuses loudly
    val bare = s"$base/bare"
    li.limit(100).write.parquet(bare)
    val e = intercept[IllegalStateException] {
      Layout.zorderCompactIncremental(spark, bare, "l_partkey", "l_suppkey")
    }
    assert(e.getMessage.contains("_zstats"), e.getMessage)
  }

  test("zorderCompactIncremental row-group merge: stored rows are stitched " +
    "(never re-encoded), the block bound forces a re-sort, schema drift " +
    "falls back to rewrite") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import scala.jdk.CollectionConverters._
    val li = Tables.t(spark, "/root/testdata/sf0.01", "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    val base = java.nio.file.Files.createTempDirectory("zrgm")
    val path = s"$base/z"
    Layout.zorderWrite(li.filter(col("l_orderkey") % 8 === 0),
      "l_partkey", "l_suppkey", 8, path)
    val conf = spark.sessionState.newHadoopConf()
    def blocksOf(): Map[Long, Int] =
      new java.io.File(path).listFiles.toSeq
        .filter(f => f.isFile && f.getName.startsWith("tile-"))
        .map { f =>
          val id = f.getName.stripPrefix("tile-").takeWhile(_.isDigit).toLong
          id -> ParquetFileReader.readFooter(conf,
            new org.apache.hadoop.fs.Path(f.getPath)).getBlocks.size()
        }.toMap
    def checksum() = spark.read.parquet(path)
      .agg(count(lit(1)), sum(col("l_orderkey")), sum(col("l_partkey")))
      .collect().head
    assert(blocksOf().values.forall(_ == 1), "fresh tiles are single-block")
    // round 1: append + compact — touched tiles gain exactly one row
    // group ON TOP of their old ones (the old bytes were copied, the new
    // rows appended; a rewrite would collapse back to one block)
    li.filter(col("l_orderkey") % 8 === 1)
      .write.mode("append").parquet(path)
    val sum1 = spark.read.parquet(path)
      .agg(count(lit(1)), sum(col("l_orderkey")), sum(col("l_partkey")))
      .collect().head
    val touched1 = Layout.zorderCompactIncremental(spark, path,
      "l_partkey", "l_suppkey", maxRowGroupsPerTile = 3)
    assert(debris(base).isEmpty, s"1: debris ${debris(base)}")
    assert(touched1.nonEmpty)
    val b1 = blocksOf()
    assert(touched1.forall(t => b1(t) == 2),
      s"touched tiles must hold old+new row groups (got ${b1.view
        .filterKeys(touched1.contains).toMap})")
    assert(checksum() == sum1, "merge changed the row set")
    // round 2: another merge → 3 blocks touches the bound; round 3 must
    // REWRITE those tiles back to a single sorted block
    li.filter(col("l_orderkey") % 8 === 2)
      .write.mode("append").parquet(path)
    val touched2 = Layout.zorderCompactIncremental(spark, path,
      "l_partkey", "l_suppkey", maxRowGroupsPerTile = 3)
    assert(debris(base).isEmpty, s"2: debris ${debris(base)}")
    val b2 = blocksOf()
    assert(touched2.forall(t => b2(t) == 3))
    li.filter(col("l_orderkey") % 8 === 3)
      .write.mode("append").parquet(path)
    val sum3 = spark.read.parquet(path)
      .agg(count(lit(1)), sum(col("l_orderkey")), sum(col("l_partkey")))
      .collect().head
    val touched3 = Layout.zorderCompactIncremental(spark, path,
      "l_partkey", "l_suppkey", maxRowGroupsPerTile = 3)
    assert(debris(base).isEmpty, s"3: debris ${debris(base)}")
    val b3 = blocksOf()
    assert(touched3.forall(t => b3(t) == 1),
      s"at the block bound the tile must re-sort to one row group " +
        s"(got ${b3.view.filterKeys(touched3.contains).toMap})")
    assert(checksum() == sum3, "bound-triggered rewrite changed the row set")
    // schema drift: a slab with REORDERED columns cannot be stitched —
    // the tile falls back to the rewrite path, rows still exact
    li.filter(col("l_orderkey") % 8 === 4)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_partkey"))
      .write.mode("append").parquet(path)
    val sum4 = spark.read.parquet(path)
      .agg(count(lit(1)), sum(col("l_orderkey")), sum(col("l_partkey")))
      .collect().head
    val touched4 = Layout.zorderCompactIncremental(spark, path,
      "l_partkey", "l_suppkey", maxRowGroupsPerTile = 3)
    assert(debris(base).isEmpty, s"4: debris ${debris(base)}")
    assert(touched4.nonEmpty)
    val b4 = blocksOf()
    assert(touched4.forall(t => b4(t) == 1),
      "a reordered-column slab must take the rewrite path (schema equality " +
        "is required to stitch)")
    assert(checksum() == sum4, "schema-fallback rewrite changed the row set")
  }

  test("zorderCompactIncremental: a failed tile publish restores the layout") {
    def rows(from: Long, to: Long) = spark.range(from, to)
      .select(col("id"), (col("id") % 97).as("x"), (col("id") % 89).as("y"))
    val base = java.nio.file.Files.createTempDirectory("zfail")
    val path = s"$base/z"
    Layout.zorderWrite(rows(0, 8000), "x", "y", 8, path)
    rows(8000, 12000).write.mode("append").parquet(path)
    def names() = new java.io.File(path).list().toSet
    def stored() = spark.read.parquet(path).collect().map(_.toString).sorted.toSeq
    val (namesBefore, rowsBefore) = (names(), stored())
    // the second staged tile to move into the layout fails
    val moveIns = new java.util.concurrent.atomic.AtomicInteger()
    FailingMoveFs.fail = (src, dst) =>
      dst.getParent.toUri.getPath == path &&
        src.getParent.toUri.getPath != path &&
        dst.getName.startsWith("tile-") && moveIns.incrementAndGet() == 2
    spark.conf.set("fs.failmv.impl", classOf[FailingMoveFs].getName)
    try intercept[java.io.IOException] {
      Layout.zorderCompactIncremental(spark, s"failmv://$path", "x", "y")
    } finally {
      FailingMoveFs.fail = (_, _) => false
      spark.conf.unset("fs.failmv.impl")
    }
    assert(moveIns.get >= 2, "the injected failure never fired")
    assert(names() == namesBefore,
      s"gone: ${namesBefore -- names()}; new: ${names() -- namesBefore}")
    assert(stored() == rowsBefore, "the layout lost or gained rows")
    assert(debris(base).isEmpty, s"failed compact left debris: ${debris(base)}")
  }

  test("zorderWrite file assignment is deterministic across runs and " +
    "shuffle-partition settings; files are z-sorted within") {
    // the q36 r15 flake: repartitionByRange's SAMPLED boundaries could
    // merge two Morton quadrants into one file depending on environment-
    // shaped input splits. The exact tile→file assignment makes per-file
    // contents a pure function of the data — pin it by comparing the full
    // per-file (count, key-span) profile across four writes under two
    // spark.sql.shuffle.partitions settings
    val li = Tables.t(spark, "/root/testdata/sf0.01", "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
    val base = java.nio.file.Files.createTempDirectory("zdet")
    def profile(path: String): Seq[(Long, Long, Long, Long, Long)] =
      spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(count(lit(1)).as("n"),
          min(col("l_partkey")).cast("long").as("pl"),
          max(col("l_partkey")).cast("long").as("ph"),
          min(col("l_suppkey")).cast("long").as("sl"),
          max(col("l_suppkey")).cast("long").as("sh"))
        .collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toSeq.sorted
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    val profiles = try {
      Seq("7", "32").flatMap { sp =>
        spark.conf.set("spark.sql.shuffle.partitions", sp)
        (1 to 2).map { run =>
          val p = s"$base/z_${sp}_$run"
          Layout.zorderWrite(li, "l_partkey", "l_suppkey", 8, p)
          profile(p)
        }
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
    assert(profiles.distinct.size == 1,
      s"file assignment varied across runs/settings:\n${profiles.mkString("\n")}")
    // exactly one file per nonempty aligned tile, and rows inside each
    // file are sorted by z (row-group locality — the writer must not have
    // re-sorted unstably on the partition column alone)
    val blocks = Layout.tileBlocks(8)
    // input_file_name() forbids a second source in the plan, so pass the
    // z-value stats as literals instead of withZValue's broadcast stats row
    val st = spark.read.parquet(s"$base/z_32_1")
      .agg(min(col("l_partkey")).cast("long"), max(col("l_partkey")).cast("long"),
        min(col("l_suppkey")).cast("long"), max(col("l_suppkey")).cast("long"))
      .collect().head
    val zed = spark.read.parquet(s"$base/z_32_1")
      .select(input_file_name().as("f"),
        Layout.zValue(col("l_partkey"), lit(st.getLong(0)), lit(st.getLong(1)),
          col("l_suppkey"), lit(st.getLong(2)), lit(st.getLong(3)), 8).as("z"))
      .withColumn("rid", monotonically_increasing_id())
    val tilesPerFile = zed.groupBy(col("f"))
      .agg(countDistinct(expr(s"z div $blocks")).as("tiles")).collect()
    assert(tilesPerFile.forall(_.getLong(1) == 1L),
      s"a file holds more than one tile: ${tilesPerFile.mkString(",")}")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("f")).orderBy(col("rid"))
    val unsorted = zed.withColumn("prev", lag(col("z"), 1).over(w))
      .filter(col("prev").isNotNull && col("z") < col("prev")).count()
    assert(unsorted == 0L, s"$unsorted rows out of z order within files")
  }
}
