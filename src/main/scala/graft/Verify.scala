package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The one session every driver surface (Verify/Bench/probes) builds.
    * `extraConfs` (r19) is the config A/B seam — session-level settings
    * like the shuffle codec must be set BEFORE the context starts, so
    * probes measuring a config change pass overrides here; the default is
    * empty and the driver contract unchanged. */
  def session(cpus: String,
      extraConfs: Map[String, String] = Map.empty): SparkSession =
    extraConfs.foldLeft(baseBuilder(cpus)) { case (b, (k, v)) =>
      b.config(k, v)
    }.getOrCreate()

  private def baseBuilder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // Spark fires a DISTRIBUTED job to list partition dirs above 32 paths —
    // sized for HDFS-NameNode-era clusters. Client-side listing of ≤1k
    // paths is faster than a job round-trip even on object stores; above
    // 1k (real 100 TB tables) the distributed path still kicks in.
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // localCheckpoint/persist blocks are reclaimed by the ContextCleaner,
    // which only learns a block is dead when the JVM GCs the reference —
    // on a big heap a many-query session can run for many minutes without
    // a single full GC, dead blocks pile up in the block manager, and
    // per-query wall-clock degrades 2-5x (measured at sf1 with a 48g
    // driver: d09's CC stage 3.2 s -> 16.1 s by rep 2; flat at 16g where
    // GC runs). Spark's own remedy is the periodic-GC cleaner tick —
    // default 30 min, far past a bench run; 90 s bounds the garbage
    // window at negligible GC cost.
    .config("spark.cleaner.periodicGC.interval", "90s")
    // Compiled whole-stage-codegen classes live in one JVM-wide LRU of
    // this many entries (static: sized once, at the first compile).
    // Spark's default of 100 is smaller than one unit of graft work: a
    // 16-model DAG build plus its `dbt test` pass needs ~195 distinct
    // classes, one ingest cycle ~300 (~370 over a run), so at 100 every
    // repeat evicted what it was about to need and compiled it all again
    // (172-177 compiles per DAG refresh, 293-319 per ingest cycle, 4-vCPU
    // host). At 1,000 a repeat compiles 0-18; plans, jobs and results
    // are unchanged.
    .config("spark.sql.codegen.cache.maxEntries", "1000")
    // Hadoop without its native library sets a created file's or dir's
    // mode by running `chmod`, and resolves a FileContext rename's links
    // by running `readlink`: one child process per data file, `.crc`,
    // directory and checkpoint-file rename, ~3.5 ms each on the writing
    // thread (4-vCPU host: 1,419 per perfbench `ingest_cycles` run, ~350
    // per cycle; 494 per `dag_refresh` run). graft's local filesystem sets
    // the same modes through java.nio (exec/LocalFs.scala). Hadoop's
    // FileSystem cache ignores the conf, so this holds only for `file:`
    // filesystems first obtained through this session's Hadoop conf.
    .config("spark.hadoop.fs.file.impl",
      classOf[graft.exec.ForkFreeLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[graft.exec.ForkFreeLocalFs].getName)
    .config("spark.sql.warehouse.dir", {
      // repeated sessions must not accumulate warehouse dirs under /tmp
      val wh = Files.createTempDirectory("graft_wh").toString
      deleteAtExit(wh)
      wh
    })
    .config("spark.ui.enabled", "false")

  /** Delete `path` recursively when the JVM exits, AFTER Spark's own
    * teardown: a priority-1 hook on Hadoop's ordered shutdown manager runs
    * once Spark's (priority ≥ 30) hooks are done. A plain Runtime hook runs
    * CONCURRENTLY with them, and Spark can still be flushing checkpoint or
    * stream state into the dir: the delete loses that race and the dir
    * survives (observed). */
  private[graft] def deleteAtExit(path: String): Unit =
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      new Runnable {
        def run(): Unit = {
          def del(f: java.io.File): Unit = {
            Option(f.listFiles).foreach(_.foreach(del)); f.delete(); ()
          }
          del(new java.io.File(path))
        }
      }, 1)

  /** Run one query and dump it under `outDir/<name>`. A THROWN query must
    * stay visible: it leaves an (otherwise parquet-less) output dir holding
    * `_error.txt`, so the checker sees an explicit NOOUT/err row instead of
    * a silently shorter query list (the round-8 q26 escape). Returns the
    * error message, if any. */
  def runOne(spark: SparkSession, name: String,
      fn: (SparkSession, String) => DataFrame,
      sfDir: String, outDir: String): Option[String] =
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      None
    } catch { case e: Throwable =>
      val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}"
      System.err.println(s"[verify] $name failed: $msg")
      val d = Paths.get(outDir, name)
      try {
        Files.createDirectories(d)
        // clear stale parquet from a previous successful run: a dir with
        // both an old result and _error.txt would read as a (stale) pass.
        // Files.list/walk streams hold directory handles — close them.
        val ls = Files.list(d)
        try ls.forEach { p =>
          if (p.getFileName.toString != "_error.txt") {
            if (Files.isDirectory(p)) {
              val w = Files.walk(p)
              try w.sorted(java.util.Comparator.reverseOrder())
                .forEach(Files.delete(_))
              finally w.close()
            } else Files.delete(p)
          }
        } finally ls.close()
        Files.writeString(d.resolve("_error.txt"), msg + "\n")
      } catch { case io: Throwable =>
        System.err.println(s"[verify] $name: cannot write error artifact: $io")
      }
      Some(msg)
    }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Optional comma-separated query-name filter (SPARK_GRAFT_ONLY) for
    * local iteration on a subset of the suite. */
  private[graft] lazy val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).filter(_.nonEmpty)

  /** The one suite loop Verify and Bench share: queries in name order,
    * narrowed by SPARK_GRAFT_ONLY, the session cache cleared after each
    * (dedup/similarity builders persist intermediates their returned plans
    * reference — the cache contract in [[graft.llm.Dedup]]). The two mains
    * differ only in `sink`: Verify dumps parquet, Bench times a full
    * evaluation. */
  def suite[A](spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries)(
      sink: (String, (SparkSession, String) => DataFrame) => A): Seq[(String, A)] =
    queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        val r = sink(name, fn)
        spark.catalog.clearCache()
        name -> r
      }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val errors = suite(spark) { (name, fn) =>
      runOne(spark, name, fn, sfDir, outDir)
    }.collect { case (name, Some(msg)) => name -> msg }
    // the oracle map must match the queries this RUN dumped: under a
    // SPARK_GRAFT_ONLY filter an unfiltered map would make the checker's
    // EXPECTED−ACTUAL drift report flag every skipped query
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // machine-readable failure roll-up next to oracle_sql.json: the checker
    // cross-references it so EXPECTED−ACTUAL drift is always explained
    Files.writeString(Paths.get(s"$outDir/_errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} FAILED: ${errors.map(_._1).mkString(", ")}")
    spark.stop()
  }
}
