package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Benchmark main: times every SparkEntry query (read paths AND the full
  * materialization suite) against SPARK_GRAFT_SF_DIR through Verify's suite
  * loop and prints one JSON line. A query's number is the wall time to
  * compute its full result — the plan Verify hands the oracle, in-query
  * gates included — measured once. Paired comparisons across runs belong to
  * `perfbench/` (≥ 10 pairs); one query's number in one run cannot tell host
  * drift from a regression, so this main does not try. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Verify.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    warmUp(spark, sfDir)
    val r = run(spark, sfDir)
    val full = fullLine(r, sfDir)
    artifactPath(Verify.only).foreach { path =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (full + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () } // cwd may be read-only; the lines below still land
    }
    // Stop Spark BEFORE the final prints so no shutdown log line can land
    // after the compact line in the captured stream.
    spark.stop()
    println(full)
    // LAST output = the compact line (build.sbt sets showSuccess:=false +
    // StdoutOutput so neither an sbt banner nor an "[info] " prefix eats
    // into the tail window).
    println(compactLine(r, sfDir))
    if (r.failed.nonEmpty) sys.exit(1)
  }

  /** Where a run writes its full line: BENCH_FULL_latest.json records the
    * WHOLE suite, so only an unfiltered run writes it — a SPARK_GRAFT_ONLY
    * subset (`only`) leaves the artifact alone and just prints. */
  def artifactPath(only: Option[Set[String]]): Option[String] =
    if (only.isEmpty) Some("BENCH_FULL_latest.json") else None

  /** Compute every output column of `df` and write nothing. `count()` is no
    * substitute: Catalyst prunes whatever a count does not need (t22's
    * dup-count branch is left-joined back on doc_id and vanishes under it —
    * 0.13 s counted vs 29 s computed at sf0.1). */
  def evaluate(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One pass over the suite: seconds of each query that succeeded, in suite
    * order, the classes codegen compiled while each of them ran, and the
    * names of those that threw. A failed query's time-to-failure measures
    * nothing, so it never enters `seconds` or `compiles`. */
  final case class Run(seconds: Seq[(String, Double)],
      compiles: Seq[(String, Long)], failed: Seq[String]) {
    def total: Double = seconds.map(_._2).sum
  }

  /** Classes Spark's code generator has compiled in this JVM so far: each
    * miss of its generated-class cache is one Janino compile, recorded in
    * this histogram. */
  def compiledClasses(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def run(spark: SparkSession, sfDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries): Run = {
    val timed = Verify.suite(spark, queries) { (name, fn) =>
      val c0 = compiledClasses()
      val t0 = System.nanoTime()
      try {
        evaluate(fn(spark, sfDir))
        Some(((System.nanoTime() - t0) / 1e9, compiledClasses() - c0))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); None
      }
    }
    Run(timed.collect { case (n, Some((s, _))) => n -> s },
      timed.collect { case (n, Some((_, c))) => n -> c },
      timed.collect { case (n, None) => n })
  }

  /** JIT/codegen/IO warm-up outside every measured window, so the first
    * measured query doesn't absorb session startup or first-touch IO —
    * every table gets one footer+data read. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(10000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .selectExpr("count(*)", "sum(l_quantity)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").selectExpr("count(*)").collect()
    }
  }

  private def line(r: Run, key: String => String, f: Double => String,
      value: String, sf: String, extra: String = ""): String = {
    val qs = r.seconds.map { case (k, v) => Verify.q(key(k)) + ":" + f(v) }
      .mkString("{", ",", "}")
    val failed = r.failed.map(k => Verify.q(key(k))).mkString("[", ",", "]")
    s"""{"metric":"total","value":$value,"unit":"sec","queries":$qs,"failed":$failed$extra,"sf":$sf}"""
  }

  /** Full-precision artifact (BENCH_FULL_latest.json): full names, 4
    * decimals, and each timed query's compile count. */
  def fullLine(r: Run, sfDir: String): String = {
    val compiles = r.compiles.map { case (k, n) => s"${Verify.q(k)}:$n" }
      .mkString("{", ",", "}")
    line(r, identity, v => f"$v%.4f", f"${r.total}%.4f", Verify.q(sfDir),
      s""","compiles":$compiles""")
  }

  /** The driver keeps only the last ~2000 bytes of output, so the compact
    * line must fit in 1,950 WHOLE. Degrade in steps until it does:
    * (1) full names, 1-decimal; (2) family-prefix keys ("d02", "q28" —
    * flagged via "qkeys"; full names live in BENCH_FULL_latest.json);
    * (3) prefix keys + whole seconds. */
  def compactLine(r: Run, sfDir: String): String = {
    // 1-decimal, trailing zeros stripped ("0.20"->"0.2", "3.00"->"3")
    def fmt(v: Double): String = {
      val s = f"$v%.1f"
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
      else s
    }
    // anchored: a dir like "sf0.1.bak" must yield 0.1, not the invalid
    // JSON number "0.1." that would break the whole compact line
    val sf = "sf([0-9]+(?:\\.[0-9]+)?)".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("0")
    val names = r.seconds.map(_._1) ++ r.failed
    val family: String => String = _.takeWhile(_ != '_')
    // collision (two queries sharing a prefix) falls back to full names
    val prefix: String => String =
      if (names.map(family).distinct.size == names.size) family else identity
    val value = fmt(r.total)
    val qkeys = ""","qkeys":"family-prefix""""
    Seq(line(r, identity, fmt, value, sf),
      line(r, prefix, fmt, value, sf, qkeys))
      .find(_.length <= 1950)
      .getOrElse(line(r, prefix, v => math.round(v).toString, value, sf, qkeys))
  }
}
