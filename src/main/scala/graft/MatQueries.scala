package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.catalog.{PartitionSpec, TableRef}
import graft.exec.{Incremental, SnapshotExec}
import graft.streaming.Streaming
import graft.mat.{Materializer, SeedLoader}
import graft.mat.Materializer.IncrementalStrategy

/** Write-path coverage: every materialization/incremental operator (M1–M14)
  * driven end-to-end against the driver's testdata; each query returns the
  * FINAL TABLE STATE, and the oracle SQL computes the same state relationally
  * in DuckDB. Each query gets its own database so reruns are hermetic.
  */
object MatQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.t(s, dir, name)

  private def freshDb(s: SparkSession, db: String): Unit = {
    s.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    s.sql(s"CREATE DATABASE $db")
  }

  /** Per-invocation temp dir REGISTERED for recursive delete at JVM exit —
    * the file-backed queries (seed CSV, streaming sources/checkpoints,
    * ingest stores) need fresh state per run, but repeated verify/bench
    * runs must not accumulate /tmp garbage across processes (the j01/j02
    * staging lesson, applied to the per-call sites). */
  private[graft] def tempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix).toString
    Verify.deleteAtExit(p)
    p
  }

  // ------------------------------------- the streaming store replay proof

  /** Land `slabs` as a file-stream backlog under `base/src`: slab k becomes
    * `filesPerSlab` parquet files (`coalesce(1)` for one; `repartition`
    * for more, which keeps a wide slab's staging write parallel), each
    * stamped mtime (k+1)·600,000 ms. The file source drains by mtime, so
    * with `maxFilesPerTrigger = filesPerSlab` slab k IS micro-batch k.
    * `first` numbers the slabs from there, for a backlog landed one slab
    * at a time. Returns the slab schema for the stream reader. */
  private[graft] def landSlabs(base: String, slabs: Seq[DataFrame],
      filesPerSlab: Int = 1, first: Int = 0): StructType = {
    val src = new java.io.File(s"$base/src")
    src.mkdirs()
    slabs.zipWithIndex.foreach { case (df, i) =>
      val k = first + i
      val tmp = s"$base/stage_$k"
      (if (filesPerSlab == 1) df.coalesce(1) else df.repartition(filesPerSlab))
        .write.mode("overwrite").parquet(tmp)
      val parts = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      require(parts.length == filesPerSlab,
        s"staging must land $filesPerSlab files, got ${parts.length}")
      parts.zipWithIndex.foreach { case (part, j) =>
        val dst = new java.io.File(src, s"slab-$k-$j.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified((k + 1) * 600000L)
      }
    }
    slabs.head.schema
  }

  /** Drain the backlog under `base/src` to completion through the ingest
    * stream `start(source, checkpointDir)`, `filesPerSlab` files per
    * trigger: one micro-batch per slab. */
  private[graft] def drainSlabs(s: SparkSession, base: String,
      schema: StructType, ckpt: String, filesPerSlab: Int = 1)(
      start: (DataFrame, String) => StreamingQuery): Unit =
    Streaming.runToCompletion(start(s.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerSlab).parquet(s"$base/src"), ckpt))

  /** The exactly-once proof every store-backed ingest row shares: drain the
    * backlog through `base/ckpt1` and take `first`, then drain it again
    * through a fresh `base/ckpt2` and take `second`. The fresh checkpoint
    * re-offers every batch, so a working replay ledger makes the second
    * drain a no-op and the two snapshots agree. A frame in `first` must be
    * pinned (`localCheckpoint`): the replay rewrites what it reads. */
  private[graft] def replayDrains[A, B](s: SparkSession, base: String,
      schema: StructType, filesPerSlab: Int = 1)(
      start: (DataFrame, String) => StreamingQuery)(
      first: => A)(second: => B): (A, B) = {
    drainSlabs(s, base, schema, s"$base/ckpt1", filesPerSlab)(start)
    val a = first
    drainSlabs(s, base, schema, s"$base/ckpt2", filesPerSlab)(start)
    (a, second)
  }

  /** The ingest output under `base/out`: `cols` plus its INT `batch`
    * partition. */
  private[graft] def ingestOut(s: SparkSession, base: String,
      cols: String*): DataFrame =
    s.read.parquet(s"$base/out")
      .select(cols.map(col) :+ col("batch").cast("int").as("batch"): _*)

  /** One row, `__n_diff`: the `keys` values whose row count differs
    * between the two snapshots — found in only one, or a different number
    * of times, so a replay that re-appends rows counts (NULL when both
    * are empty). */
  private[graft] def nDiff(a: DataFrame, b: DataFrame,
      keys: Seq[String]): DataFrame =
    a.groupBy(keys.map(col): _*).count().withColumnRenamed("count", "__a")
      .join(b.groupBy(keys.map(col): _*).count()
        .withColumnRenamed("count", "__b"), keys, "full_outer")
      .agg(sum(when(!(col("__a") <=> col("__b")), 1L).otherwise(0L))
        .as("__n_diff"))

  /** The replay gate over a [[nDiff]] row. */
  private[graft] val replayStable: Column =
    (coalesce(col("__n_diff"), lit(0L)) === 0L).as("replay_stable")

  private val orderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  /** Source-modification used by the merge/delete+insert scenarios: rows from
    * 1995 onward with bumped price and status 'U'. */
  private def modifiedSrc(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"),
        lit("U").as("o_orderstatus"),
        (col("o_totalprice") + 1000.0).as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))

  private val modifiedSrcSql =
    """SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
      |       o_totalprice + 1000.0 AS o_totalprice, o_orderdate, o_orderpriority
      |FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'""".stripMargin

  private def finalOrders(df: DataFrame): DataFrame =
    df.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate").cast("date").as("o_orderdate"),
      col("o_orderpriority"))
      .orderBy(col("o_orderkey"))

  // ------------------------------------------------------------- M1 table

  private def m01(s: SparkSession, dir: String): DataFrame = {
    freshDb(s, "g_m01")
    val df = t(s, dir, "orders").join(t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
    Materializer.table(s, TableRef("g_m01.seg_stats"), df,
      notNullColumns = Seq("c_mktsegment"))
    s.table("g_m01.seg_stats").orderBy(col("c_mktsegment"))
  }

  private val m01Sql =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------------- M2 view

  private def m02(s: SparkSession, dir: String): DataFrame = {
    freshDb(s, "g_m02")
    Materializer.table(s, TableRef("g_m02.li"),
      t(s, dir, "lineitem").filter(col("l_quantity") >= 25))
    Materializer.view(s, TableRef("g_m02.v_flag"),
      """SELECT l_returnflag, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM g_m02.li GROUP BY l_returnflag""".stripMargin)
    s.table("g_m02.v_flag").orderBy(col("l_returnflag"))
  }

  private val m02Sql =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem WHERE l_quantity >= 25 GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------- M3/M4 incremental merge

  private def m03(s: SparkSession, dir: String): DataFrame = {
    freshDb(s, "g_m03")
    val tgt = TableRef("g_m03.orders_inc")
    Materializer.table(s, tgt, t(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1995-07-01").cast("timestamp")))
    Materializer.incremental(s, tgt, modifiedSrc(s, dir),
      IncrementalStrategy.Merge(), uniqueKey = Seq("o_orderkey"))
    finalOrders(s.table(tgt.render))
  }

  private val m03Sql =
    s"""WITH tgt AS (SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1995-07-01'),
       |src AS ($modifiedSrcSql)
       |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       |       CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
       |FROM (SELECT * FROM src UNION ALL
       |      SELECT * FROM tgt WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src))
       |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------- M4 merge on auto-partitioned table

  private def m04(s: SparkSession, dir: String): DataFrame = {
    freshDb(s, "g_m04")
    val part = PartitionSpec.Auto("o_orderdate", "month", Some("pt"))
    val tgt = TableRef("g_m04.orders_part")
    Materializer.table(s, tgt, graft.exec.AtomicWriter.withPartitionCols(
      t(s, dir, "orders").filter(col("o_orderdate") < lit("1995-07-01").cast("timestamp")),
      part), part)
    Materializer.incremental(s, tgt, modifiedSrc(s, dir),
      IncrementalStrategy.Merge(), uniqueKey = Seq("o_orderkey"), partition = part)
    s.table(tgt.render)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_orderpriority"), col("pt"))
      .orderBy(col("o_orderkey"))
  }

  private val m04Sql =
    s"""WITH tgt AS (SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1995-07-01'),
       |src AS ($modifiedSrcSql)
       |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       |       CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
       |       strftime(date_trunc('month', o_orderdate), '%Y-%m') AS pt
       |FROM (SELECT * FROM src UNION ALL
       |      SELECT * FROM tgt WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src))
       |ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------- M5 delete+insert

  private def m05(s: SparkSession, dir: String): DataFrame = {
    freshDb(s, "g_m05")
    val tgt = TableRef("g_m05.orders_di")
    Materializer.table(s, tgt, t(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1995-07-01").cast("timestamp")))
    // predicate restricts deletion to non-'F' target rows: matched 'F' rows
    // survive AND the src row is inserted (genuine delete+insert semantics,
    // distinct from merge)
    Materializer.incremental(s, tgt, modifiedSrc(s, dir),
      IncrementalStrategy.DeleteInsert, uniqueKey = Seq("o_orderkey"),
      predicates = Seq(col("o_orderstatus") =!= "F"))
    finalOrders(s.table(tgt.render))
  }

  private val m05Sql =
    s"""WITH tgt AS (SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1995-07-01'),
       |src AS ($modifiedSrcSql)
       |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       |       CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
       |FROM (SELECT * FROM src UNION ALL
       |      SELECT * FROM tgt WHERE NOT (o_orderstatus <> 'F' AND
       |        o_orderkey IN (SELECT o_orderkey FROM src)))
       |ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------- M6 append

  private def m06(s: SparkSession, dir: String): DataFrame = {
    freshDb(s, "g_m06")
    val tgt = TableRef("g_m06.orders_app")
    Materializer.table(s, tgt, t(s, dir, "orders")
      .filter(col("o_orderdate") < lit("1995-01-01").cast("timestamp")))
    Materializer.incremental(s, tgt, t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp")),
      IncrementalStrategy.Append)
    finalOrders(s.table(tgt.render))
  }

  private val m06Sql =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |       CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ------------------------------------- M7 insert_overwrite (dynamic)

  /** Daily aggregate of events, second-precision-safe. */
  private def eventsAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("pt"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))

  private val eventsAggSql =
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS pt, event_type,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin

  private def firstDays(s: SparkSession, dir: String, k: Int): Seq[String] =
    t(s, dir, "events").select(date_format(col("ts"), "yyyy-MM-dd").as("pt"))
      .distinct().orderBy(col("pt")).limit(k).collect().map(_.getString(0)).toSeq

  private def m07(s: SparkSession, dir: String): DataFrame = {
    freshDb(s, "g_m07")
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val tgt = TableRef("g_m07.daily")
    Materializer.table(s, tgt, eventsAgg(s, dir), part)
    val days = firstDays(s, dir, 3)
    val src = eventsAgg(s, dir).filter(col("pt").isin(days: _*))
      .withColumn("total_value", col("total_value") * 2)
    Materializer.incremental(s, tgt, src, IncrementalStrategy.InsertOverwrite,
      partition = part)
    s.table(tgt.render).orderBy(col("pt"), col("event_type"))
  }

  private val m07Sql =
    s"""WITH agg AS ($eventsAggSql),
       |days AS (SELECT pt FROM (SELECT DISTINCT pt FROM agg) ORDER BY pt LIMIT 3)
       |SELECT pt, event_type, n, total_value FROM agg WHERE pt NOT IN (SELECT pt FROM days)
       |UNION ALL
       |SELECT pt, event_type, n, total_value * 2 AS total_value FROM agg
       |WHERE pt IN (SELECT pt FROM days)
       |ORDER BY pt, event_type""".stripMargin

  // -------------------------------------- M7b insert_overwrite (static)

  private def m08(s: SparkSession, dir: String): DataFrame = {
    freshDb(s, "g_m08")
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val tgt = TableRef("g_m08.daily")
    Materializer.table(s, tgt, eventsAgg(s, dir), part)
    val days = firstDays(s, dir, 2) // list 2 partitions …
    val src = eventsAgg(s, dir).filter(col("pt") === days.head) // … source only 1
      .withColumn("total_value", col("total_value") * 2)
    Incremental.insertOverwriteStatic(s, tgt, src, part, days)
    s.table(tgt.render).orderBy(col("pt"), col("event_type"))
  }

  private val m08Sql =
    s"""WITH agg AS ($eventsAggSql),
       |days AS (SELECT pt, row_number() OVER (ORDER BY pt) AS rn
       |         FROM (SELECT DISTINCT pt FROM agg) QUALIFY rn <= 2)
       |SELECT pt, event_type, n, total_value FROM agg
       |WHERE pt NOT IN (SELECT pt FROM days)
       |UNION ALL
       |SELECT pt, event_type, n, total_value * 2 AS total_value FROM agg
       |WHERE pt = (SELECT MIN(pt) FROM days)
       |ORDER BY pt, event_type""".stripMargin

  // ----------------------------------------------------- M8 microbatch

  private def m09(s: SparkSession, dir: String): DataFrame = {
    freshDb(s, "g_m09")
    val part = PartitionSpec.Auto("ts_sec", "day", Some("pt"))
    val tgt = TableRef("g_m09.events_mb")
    val base = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        date_trunc("second", col("ts")).as("ts_sec"))
    Materializer.table(s, tgt,
      graft.exec.AtomicWriter.withPartitionCols(base, part), part)
    val days = firstDays(s, dir, 4)
    val lo = java.sql.Timestamp.valueOf(days(1) + " 00:00:00")
    val hi = java.sql.Timestamp.valueOf(days(3) + " 00:00:00")
    val src = base.withColumn("value", col("value") * 2)
    Incremental.microbatch(s, tgt, src, "ts_sec", part, lo, hi)
    s.table(tgt.render)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        col("ts_sec").cast("timestamp_ntz").as("ts_sec"), col("pt"))
      .orderBy(col("event_id"))
  }

  private val m09Sql =
    """WITH base AS (SELECT event_id, user_id, event_type, value,
      |        date_trunc('second', ts) AS ts_sec,
      |        strftime(date_trunc('day', ts), '%Y-%m-%d') AS pt FROM events),
      |days AS (SELECT pt, row_number() OVER (ORDER BY pt) AS rn
      |         FROM (SELECT DISTINCT pt FROM base) QUALIFY rn <= 4),
      |lo AS (SELECT pt FROM days WHERE rn = 2), hi AS (SELECT pt FROM days WHERE rn = 4)
      |SELECT event_id, user_id, event_type,
      |  CASE WHEN pt >= (SELECT pt FROM lo) AND pt < (SELECT pt FROM hi)
      |       THEN value * 2 ELSE value END AS value,
      |  CAST(ts_sec AS TIMESTAMP) AS ts_sec, pt
      |FROM base ORDER BY event_id""".stripMargin

  // ---------------------------------------------------- M9 snapshot SCD-2

  private def m10(s: SparkSession, dir: String): DataFrame = {
    freshDb(s, "g_m10")
    val tgt = TableRef("g_m10.cust_snap")
    val t1 = lit("2024-01-01 00:00:00").cast("timestamp")
    val t2 = lit("2024-02-01 00:00:00").cast("timestamp")
    val base = t(s, dir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_acctbal").as("bal"), t1.as("updated_at"))
    SnapshotExec.run(s, tgt, base, Seq("id"),
      SnapshotExec.TimestampStrategy("updated_at"),
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    val src2 = base.filter(col("id") % 10 =!= 0)
      .unionByName(base.filter(col("id") % 10 === 0)
        .withColumn("bal", col("bal") + 100.0).withColumn("updated_at", t2))
      .unionByName(base.filter(col("id") % 100 === 0)
        .withColumn("id", col("id") + 1000000).withColumn("updated_at", t2))
    SnapshotExec.run(s, tgt, src2, Seq("id"),
      SnapshotExec.TimestampStrategy("updated_at"),
      java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    s.table(tgt.render)
      .select(col("id"), col("name"), col("bal"),
        col("dbt_updated_at").cast("timestamp_ntz").as("dbt_updated_at"),
        col("dbt_valid_from").cast("timestamp_ntz").as("dbt_valid_from"),
        col("dbt_valid_to").cast("timestamp_ntz").as("dbt_valid_to"),
        col("dbt_scd_id"))
      .orderBy(col("id"), col("dbt_valid_from"))
  }

  private val m10Sql =
    """WITH base AS (SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal,
      |                     TIMESTAMP '2024-01-01 00:00:00' AS t1,
      |                     TIMESTAMP '2024-02-01 00:00:00' AS t2 FROM customer)
      |SELECT id, name, bal, dbt_updated_at, dbt_valid_from, dbt_valid_to, dbt_scd_id
      |FROM (
      |  -- unchanged keys: open v1
      |  SELECT id, name, bal, t1 AS dbt_updated_at, t1 AS dbt_valid_from,
      |         CAST(NULL AS TIMESTAMP) AS dbt_valid_to,
      |         md5(concat_ws('|', CAST(id AS VARCHAR), CAST(t1 AS VARCHAR))) AS dbt_scd_id
      |  FROM base WHERE id % 10 <> 0
      |  UNION ALL
      |  -- changed keys: closed v1
      |  SELECT id, name, bal, t1, t1, t2,
      |         md5(concat_ws('|', CAST(id AS VARCHAR), CAST(t1 AS VARCHAR)))
      |  FROM base WHERE id % 10 = 0
      |  UNION ALL
      |  -- changed keys: open v2
      |  SELECT id, name, bal + 100.0, t2, t2, CAST(NULL AS TIMESTAMP),
      |         md5(concat_ws('|', CAST(id AS VARCHAR), CAST(t2 AS VARCHAR)))
      |  FROM base WHERE id % 10 = 0
      |  UNION ALL
      |  -- new keys: open v1 at t2
      |  SELECT id + 1000000, name, bal, t2, t2, CAST(NULL AS TIMESTAMP),
      |         md5(concat_ws('|', CAST(id + 1000000 AS VARCHAR), CAST(t2 AS VARCHAR)))
      |  FROM base WHERE id % 100 = 0
      |) ORDER BY id, dbt_valid_from""".stripMargin

  // --------------------------------------------------------- M11 seed CSV

  private def m11(s: SparkSession, dir: String): DataFrame = {
    freshDb(s, "g_m11")
    val rows = t(s, dir, "part").filter(col("p_partkey") <= 200)
      .select(col("p_partkey"), col("p_name"),
        col("p_retailprice").cast("decimal(18,2)").cast("string").as("price_s"),
        col("p_size"))
      .orderBy(col("p_partkey")).collect()
    val csv = new StringBuilder("id,name,price,psize,created_at\n")
    rows.foreach { r =>
      val name = r.getString(1).replace("\"", "\"\"")
      csv.append(s"""${r.getLong(0)},"$name",${r.getString(2)},${r.getInt(3)},2024-01-15 10:30:00\n""")
    }
    val f = java.nio.file.Paths.get(tempDir("graft_seed")).resolve("seed.csv")
    java.nio.file.Files.writeString(f, csv.toString)
    SeedLoader.seed(s, f.toString, TableRef("g_m11.seeded"))
    s.table("g_m11.seeded")
      .select(col("id"), col("name"), col("price").cast("double").as("price"),
        col("psize"), col("created_at").cast("timestamp_ntz").as("created_at"))
      .orderBy(col("id"))
  }

  private val m11Sql =
    """SELECT p_partkey AS id, p_name AS name,
      |  CAST(CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DECIMAL(38,18)) AS DOUBLE) AS price,
      |  CAST(p_size AS BIGINT) AS psize,
      |  TIMESTAMP '2024-01-15 10:30:00' AS created_at
      |FROM part WHERE p_partkey <= 200 ORDER BY 1""".stripMargin

  // ------------------------------------------------ M12 raw + SET header

  private def m12(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("m12_orders")
    Materializer.raw(s,
      """-- leading comment is skipped
        |set odps.sql.type.system.odps2=true;
        |set spark.sql.adaptive.enabled=true;
        |SELECT o_orderstatus, COUNT(*) AS n FROM m12_orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  private val m12Sql =
    """SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ----------------------------------------------------------- M13 clone

  private def m13(s: SparkSession, dir: String): DataFrame = {
    freshDb(s, "g_m13")
    Materializer.table(s, TableRef("g_m13.geo"),
      t(s, dir, "nation").join(t(s, dir, "region"),
        col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name")))
    Materializer.clone(s, TableRef("g_m13.geo"), TableRef("g_m13.geo_clone"))
    s.table("g_m13.geo_clone").orderBy(col("n_nationkey"))
  }

  private val m13Sql =
    """SELECT n_nationkey, n_name, r_name
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |ORDER BY n_nationkey""".stripMargin

  // ----------------------------------------- M10 materialized view + refresh

  private def m14(s: SparkSession, dir: String): DataFrame = {
    freshDb(s, "g_m14")
    t(s, dir, "orders").createOrReplaceTempView("m14_orders")
    val mvSql =
      """SELECT CAST(o_orderdate AS DATE) AS order_date, o_orderstatus,
        |COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM m14_orders GROUP BY 1, 2""".stripMargin
    Materializer.materializedView(s, TableRef("g_m14.daily_rev"), mvSql)
    Materializer.refreshMaterializedView(s, TableRef("g_m14.daily_rev"))
    s.table("g_m14.daily_rev").orderBy(col("order_date"), col("o_orderstatus"))
  }

  private val m14Sql =
    """SELECT CAST(o_orderdate AS DATE) AS order_date, o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------- M14 ephemeral

  private def m15(s: SparkSession, dir: String): DataFrame = {
    Materializer.ephemeral(s, "m15_big_cust",
      t(s, dir, "customer").filter(col("c_acctbal") > 5000))
    Materializer.ephemeral(s, "m15_cust_orders",
      t(s, dir, "orders").join(s.table("m15_big_cust"),
        col("o_custkey") === col("c_custkey")))
    s.table("m15_cust_orders")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy(col("c_mktsegment"))
  }

  private val m15Sql =
    """WITH big_cust AS (SELECT * FROM customer WHERE c_acctbal > 5000),
      |cust_orders AS (SELECT * FROM orders JOIN big_cust ON o_custkey = c_custkey)
      |SELECT c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM cust_orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------ delta table UPDATE/DELETE (ref M1
  // transactional flavor + test_core.py:1128-1140)

  private def m16(s: SparkSession, dir: String): DataFrame = {
    freshDb(s, "g_m16")
    val tgt = TableRef("g_m16.cust_delta")
    // delta table: transactional + primary key + fixed bucket count
    // (ref relations/table/create.sql:17,30-35,46-48)
    Materializer.table(s, tgt,
      t(s, dir, "customer").select(col("c_custkey"), col("c_name"),
        col("c_acctbal"), col("c_mktsegment")),
      bucketBy = Some((16, Seq("c_custkey"))),
      tblProperties = Map("transactional" -> "true", "write.bucket.num" -> "16"),
      notNullColumns = Seq("c_custkey"))
    graft.exec.Mutations.update(s, tgt,
      Map("c_acctbal" -> (col("c_acctbal") + 50.0)), col("c_custkey") % 7 === 0)
    graft.exec.Mutations.delete(s, tgt, col("c_custkey") % 13 === 0)
    s.table(tgt.render).orderBy(col("c_custkey"))
  }

  private val m16Sql =
    """SELECT c_custkey, c_name,
      |  CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 50.0 ELSE c_acctbal END AS c_acctbal,
      |  c_mktsegment
      |FROM customer WHERE c_custkey % 13 <> 0
      |ORDER BY c_custkey""".stripMargin

  // --------------------------------- streaming microbatch (driver-checked)

  /** The STREAMING twin of m09, executed for real through Structured
    * Streaming: the events table is laid out as multiple parquet files,
    * streamed with `maxFilesPerTrigger=1` (so several AvailableNow
    * micro-batches hit the same day partition — the overlap-union path),
    * dynamic-overwritten per batch into a day-partitioned table. The
    * oracle checks the FINAL table state relationally, so the whole
    * streaming path (file source → foreachBatch → partition overwrite →
    * done markers) sits behind the driver's hash gate. */
  private def m17(s: SparkSession, dir: String): DataFrame = {
    freshDb(s, "g_m17")
    val part = PartitionSpec.Auto("ts_sec", "day", Some("pt"))
    val tgt = TableRef("g_m17.events_stream")
    val base = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        date_trunc("second", col("ts")).as("ts_sec"))
    Materializer.table(s, tgt,
      graft.exec.AtomicWriter.withPartitionCols(base.limit(0), part), part)
    val srcDir = java.nio.file.Paths.get(tempDir("g_m17_src"))
    base.repartition(4).write.mode("overwrite").parquet(s"$srcDir/data")
    val stream = s.readStream.schema(base.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/data")
    val ckpt = java.nio.file.Paths.get(tempDir("g_m17_ckpt"))
    graft.streaming.Streaming.runToCompletion(
      graft.streaming.Streaming.microbatchStream(s, stream, tgt, part,
        ckpt.toString))
    s.table(tgt.render)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        col("ts_sec").cast("timestamp_ntz").as("ts_sec"), col("pt"))
      .orderBy(col("event_id"))
  }

  private val m17Sql =
    """SELECT event_id, user_id, event_type, value,
      |  CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_sec,
      |  strftime(date_trunc('day', ts), '%Y-%m-%d') AS pt
      |FROM events ORDER BY event_id""".stripMargin

  // --------------------------------------------- m18 streaming ingest dedup

  /** Ingest-side streaming dedup — [[graft.streaming.Streaming.dedupStream]]
    * (`dropDuplicatesWithinWatermark`: bounded per-key state, watermark
    * eviction) driven AvailableNow over a file backlog carrying exact
    * duplicates of every third event. The backlog is TIME-ORDERED
    * (`repartitionByRange` on the event time → file k = time slab k, and
    * the file source drains slabs in order), which is how a replayed
    * ingest log actually arrives; a duplicate carries its original's
    * timestamp, so the range partitioner co-slabs the pair and the state
    * needed to drop it is always live. That lets the watermark be a
    * REALISTIC 1-hour replay horizon — the watermark advances slab by
    * slab and evicts state behind it, so the bounded-per-key-state
    * property is genuinely exercised (an r7 version hash-partitioned the
    * backlog and needed a 3650-day horizon = no eviction at all;
    * StreamingSpec's disorder test pins the drop/keep semantics when
    * disorder DOES exceed the horizon). Final parquet state must equal the
    * duplicate-free source, row for row. */
  private def m18(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
    val withDups = base.union(base.filter(col("event_id") % 3 === 0))
      .repartitionByRange(4, col("ts"), col("event_id"))
    val srcDir = java.nio.file.Paths.get(tempDir("g_m18_src"))
    withDups.write.mode("overwrite").parquet(s"$srcDir/data")
    // the file source drains by MODIFICATION TIME, and a parallel write
    // leaves all slabs with the same mtime (arbitrary tie order) — stamp
    // part-k with an increasing mtime so slab order IS time order, like a
    // real ingest log where the day-k file lands on day k
    new java.io.File(s"$srcDir/data").listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        f.setLastModified((i + 1) * 600000L) }
    val stream = s.readStream.schema(base.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/data")
    val deduped = graft.streaming.Streaming.dedupStream(
      stream, "ts", "1 hour", Seq("event_id"))
    val outDir = java.nio.file.Paths.get(tempDir("g_m18_out"))
    val ckpt = java.nio.file.Paths.get(tempDir("g_m18_ckpt"))
    graft.streaming.Streaming.runToCompletion(
      deduped.writeStream.format("parquet")
        .option("path", s"$outDir/tbl")
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
    s.read.parquet(s"$outDir/tbl")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts").cast("timestamp_ntz").as("ts"))
      .orderBy(col("event_id"))
  }

  private val m18Sql =
    """SELECT event_id, user_id, event_type, value, ts
      |FROM events ORDER BY event_id""".stripMargin

  // ------------------------ m19 streaming store-backed ingest dedup

  /** The d16/d19 ingest loop STREAMED —
    * [[graft.streaming.Streaming.dedupIngestStream]]: a two-slab file
    * backlog (slab A: perturbed copies of history + new docs; slab B:
    * re-perturbed copies of slab A's new docs + fresh docs) drains
    * AvailableNow, each micro-batch dedups against the durable
    * [[graft.llm.DedupStore]] (seeded from history at batchId −1) and
    * appends its survivors — dedup state lives in the STORE, not the
    * streaming engine, so it spans restarts and arbitrary time gaps.
    * The whole backlog is then REPLAYED with a fresh checkpoint against
    * the same store: the done markers skip every batch, and two gate
    * columns pin that the output rows and the store row count came
    * through the replay byte-stable. The oracle reproduces the kept
    * (doc_id, batch) set from the closed construction. */
  private def m19(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.{Dedup, DedupStore}
    val hist = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val off = hist.agg(max(col("doc_id"))).head.getLong(0) + 1
    val slabA = hist.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + off).as("doc_id"),
        concat(col("text"), lit("  ")).as("text"))
      .unionByName(hist.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2 * off).as("doc_id"),
          concat(lit("newdoc "), col("text")).as("text")))
    val slabB = hist.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 3 * off).as("doc_id"),
        concat(lit("newdoc "), col("text"), lit(" ")).as("text"))
      .unionByName(hist.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 4 * off).as("doc_id"),
          concat(lit("fresh "), col("text")).as("text")))
    val base = tempDir("g_m19")
    val schema = landSlabs(base, Seq(slabA, slabB))
    val store = s"$base/store"
    DedupStore.appendFingerprints(s, store, -1L, Dedup.fingerprintStore(hist))
    def storeRows = DedupStore.readFingerprints(s, store).count()
    val ((out1, storeRows1), (out2, storeRows2)) =
      replayDrains(s, base, schema)(
        Streaming.dedupIngestStream(s, _, store, s"$base/out", _))(
        (ingestOut(s, base, "doc_id").localCheckpoint(), storeRows))(
        (ingestOut(s, base, "doc_id"), storeRows))
    out1
      .crossJoin(broadcast(nDiff(out1, out2, Seq("doc_id", "batch"))))
      .select(col("doc_id"), col("batch"), replayStable,
        lit(storeRows1 == storeRows2).as("store_stable"))
      .orderBy(col("doc_id"))
  }

  private val m19Sql =
    """WITH hist AS (SELECT doc_id, text FROM documents),
      |off AS (SELECT MAX(doc_id) + 1 AS o FROM hist),
      |a AS (
      |  SELECT doc_id + (SELECT o FROM off) AS doc_id, text || '  ' AS text
      |    FROM hist WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 2 * (SELECT o FROM off), 'newdoc ' || text
      |    FROM hist WHERE doc_id % 7 = 0),
      |b AS (
      |  SELECT doc_id + 3 * (SELECT o FROM off) AS doc_id,
      |      'newdoc ' || text || ' ' AS text
      |    FROM hist WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 4 * (SELECT o FROM off), 'fresh ' || text
      |    FROM hist WHERE doc_id % 13 = 0),
      |storefp AS (SELECT DISTINCT
      |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
      |  FROM hist),
      |af AS (SELECT doc_id,
      |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
      |  FROM a),
      |k0 AS (SELECT fp, MIN(doc_id) AS doc_id FROM af
      |  WHERE fp NOT IN (SELECT fp FROM storefp) GROUP BY 1),
      |bf AS (SELECT doc_id,
      |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
      |  FROM b),
      |k1 AS (SELECT fp, MIN(doc_id) AS doc_id FROM bf
      |  WHERE fp NOT IN (SELECT fp FROM storefp)
      |    AND fp NOT IN (SELECT fp FROM af) GROUP BY 1)
      |SELECT doc_id, CAST(0 AS INT) AS batch,
      |  TRUE AS replay_stable, TRUE AS store_stable FROM k0
      |UNION ALL
      |SELECT doc_id, CAST(1 AS INT), TRUE, TRUE FROM k1
      |ORDER BY doc_id""".stripMargin

  // --------------------- m20 streaming NEAR-dup store-backed ingest dedup

  /** The d21 near-dup ingest loop STREAMED —
    * [[graft.streaming.Streaming.nearDupIngestStream]]: slab A (novel
    * synthetic token streams — disjoint shingles from history, all must
    * survive the MinHash probe) then slab B (one-token-appended near-dups
    * of slab A's docs — catchable ONLY through the signature segment slab
    * A's micro-batch appended — plus fresh novel streams) drain
    * AvailableNow against the durable MinHash store seeded from history.
    * The backlog is then REPLAYED under a fresh checkpoint: done markers
    * must skip both batches end-to-end. Exact-count columns pin the
    * zero-false-drop behavior (every slab-A and every fresh doc kept);
    * gates pin planted recall ≥ 0.6, replay byte-stability, and exact
    * store signature accounting (history + every survivor, nothing
    * double-appended). */
  private def m20(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.{Dedup, DedupStore}
    val hist = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val off = hist.agg(max(col("doc_id"))).head.getLong(0) + 1
    // text streams keyed EXPLICITLY by a separate column (the d21
    // lateral-column-alias lesson: a same-select col("doc_id") sibling of
    // an .as("doc_id") alias resolves to the ALIAS)
    def novelTextOf(id: Column, prefix: String) =
      array_join(transform(sequence(lit(1), lit(40)),
        i => concat(lit(prefix), id, lit("x"), i)), " ")
    def stream(mod: Int, idShift: Long, prefix: String,
        suffix: String = ""): DataFrame =
      hist.filter(col("doc_id") % mod === 0)
        .select(col("doc_id").as("__orig"),
          (col("doc_id") + idShift).as("doc_id"))
        .select(col("doc_id"),
          concat(novelTextOf(col("__orig"), prefix), lit(suffix)).as("text"))
    val slabA = stream(13, off, "novel")
    val slabB = stream(13, 2 * off, "novel", " graftmarker")
      .unionByName(stream(17, 3 * off, "fresh"))
    val base = tempDir("g_m20")
    val schema = landSlabs(base, Seq(slabA, slabB))
    val store = s"$base/store"
    val sigs0 = Dedup.nearDupStore(hist)._2
    val histSigs = sigs0.count()
    DedupStore.appendNearDupSigs(s, store, -1L, sigs0)
    def storeRows = DedupStore.readNearDup(s, store)._2.count()
    val ((out1, storeRows1), (out2, storeRows2)) =
      replayDrains(s, base, schema)(
        Streaming.nearDupIngestStream(s, _, store, s"$base/out", _))(
        (ingestOut(s, base, "doc_id").localCheckpoint(), storeRows))(
        (ingestOut(s, base, "doc_id"), storeRows))
    out1.agg(
        sum(when(col("batch") === 0, 1L).otherwise(0L)).cast("bigint")
          .as("n_a_kept"),
        sum(when(col("batch") === 1 && col("doc_id") >= 3 * off, 1L)
          .otherwise(0L)).cast("bigint").as("n_fresh_kept"),
        sum(when(col("batch") === 1 && col("doc_id") < 3 * off, 1L)
          .otherwise(0L)).as("__planted_kept"),
        count(lit(1)).as("__n_out"))
      .crossJoin(broadcast(nDiff(out1, out2, Seq("doc_id", "batch"))))
      .select(col("n_a_kept"), col("n_fresh_kept"),
        ((lit(1.0) - col("__planted_kept").cast("double") / col("n_a_kept"))
          >= 0.6).as("recall_ok"),
        replayStable,
        (lit(storeRows1) === lit(histSigs) + col("__n_out"))
          .as("store_consistent"),
        lit(storeRows2 == storeRows1).as("store_stable"))
  }

  private val m20Sql =
    """SELECT
      |  CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 13 = 0)
      |    AS BIGINT) AS n_a_kept,
      |  CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 17 = 0)
      |    AS BIGINT) AS n_fresh_kept,
      |  TRUE AS recall_ok, TRUE AS replay_stable,
      |  TRUE AS store_consistent, TRUE AS store_stable""".stripMargin

  /** Streaming SEMANTIC near-dup ingest against the durable vector store
    * — the embedding sibling of m20, completing the streaming parity of
    * the d24/d25 family: slab A's novel hash-derived directions all
    * survive (exact count), their vectors append as the slab's segment,
    * slab B's planted +0.0005 rebuilds of slab-A vectors are caught ONLY
    * through that appended segment (recall-gated) next to zero-false-drop
    * fresh directions, and a full replay from a fresh checkpoint is
    * byte-stable with the store unchanged (the done marker is the commit
    * token). bits = 12: the d24 cost dial. */
  private def m21(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.{DedupStore, Similarity}
    val hist = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val off = hist.agg(max(col("vec_id"))).head.getLong(0) + 1
    // vectors keyed EXPLICITLY by __orig (the d21 lateral-column-alias
    // lesson); slab B's planted stream rebuilds slab A's vectors from the
    // SAME __orig ids + 0.0005 — near-dups of slab A alone
    def novelVecOf(orig: Column, prefix: String): Column =
      transform(sequence(lit(1), lit(64)), i =>
        (pmod(xxhash64(concat(lit(prefix), orig, lit("_"), i)),
          lit(2000001L)) - lit(1000000L)).cast("double") / 1000000.0)
    def vstream(mod: Int, idShift: Long, prefix: String,
        shift: Double = 0.0): DataFrame =
      hist.filter(col("vec_id") % mod === 0)
        .select(col("vec_id").as("__orig"),
          (col("vec_id") + idShift).as("vec_id"))
        .select(col("vec_id"),
          transform(novelVecOf(col("__orig"), prefix), x => x + shift)
            .as("embedding"))
    val slabA = vstream(13, off, "nv")
    val slabB = vstream(13, 2 * off, "nv", shift = 0.0005)
      .unionByName(vstream(17, 3 * off, "fv"))
    val base = tempDir("g_m21")
    val schema = landSlabs(base, Seq(slabA, slabB))
    val store = s"$base/store"
    val dim = 64; val bits = 12
    val histVecs = hist.count()
    DedupStore.appendVectors(s, store, -1L,
      Similarity.embeddingStore(hist, dim, bits)._2)
    def storeRows = DedupStore.readVectors(s, store, dim, bits)._2.count()
    val ((out1, storeRows1), (out2, storeRows2)) =
      replayDrains(s, base, schema)(
        Streaming.semanticIngestStream(s, _, store, s"$base/out", _,
          dim = dim, bits = bits))(
        (ingestOut(s, base, "vec_id").localCheckpoint(), storeRows))(
        (ingestOut(s, base, "vec_id"), storeRows))
    out1.agg(
        sum(when(col("batch") === 0, 1L).otherwise(0L)).cast("bigint")
          .as("n_a_kept"),
        sum(when(col("batch") === 1 && col("vec_id") >= 3 * off, 1L)
          .otherwise(0L)).cast("bigint").as("n_fresh_kept"),
        sum(when(col("batch") === 1 && col("vec_id") < 3 * off, 1L)
          .otherwise(0L)).as("__planted_kept"),
        count(lit(1)).as("__n_out"))
      .crossJoin(broadcast(nDiff(out1, out2, Seq("vec_id", "batch"))))
      .select(col("n_a_kept"), col("n_fresh_kept"),
        ((lit(1.0) - col("__planted_kept").cast("double") / col("n_a_kept"))
          >= 0.6).as("recall_ok"),
        replayStable,
        (lit(storeRows1) === lit(histVecs) + col("__n_out"))
          .as("store_consistent"),
        lit(storeRows2 == storeRows1).as("store_stable"))
  }

  private val m21Sql =
    """SELECT
      |  CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id % 13 = 0)
      |    AS BIGINT) AS n_a_kept,
      |  CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id % 17 = 0)
      |    AS BIGINT) AS n_fresh_kept,
      |  TRUE AS recall_ok, TRUE AS replay_stable,
      |  TRUE AS store_consistent, TRUE AS store_stable""".stripMargin

  // ------------------------------------------- m22 model DAG run (ref()/deps)

  /** The dbt-style model DAG executor ([[graft.pipeline.ModelGraph.run]])
    * behind the driver's hash gate: two independent staging CTAS models run
    * thread-parallel, a mart joins them (dep-ordered), a failing model
    * marks its TRANSITIVE dependents skipped (with the blocking dep
    * recorded) while everything else still builds — dbt's partial-failure
    * semantics (reference tests/functional/test_concurrency.py). Output is
    * one row per model (name, status, blocked_by) plus the mart's actual
    * content rows, so the oracle pins BOTH the scheduling outcome and that
    * the dep-ordered build produced the right table. */
  private def m22(s: SparkSession, dir: String): DataFrame = {
    freshDb(s, "g_m22")
    import graft.pipeline.ModelGraph
    import graft.pipeline.ModelGraph.{Failed, Model, Skipped, Success_}
    val orders = t(s, dir, "orders")
    val cust = t(s, dir, "customer")
    val models = Seq(
      Model("stg_orders")(sp => Materializer.table(sp,
        TableRef("g_m22.stg_orders"),
        orders.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice").cast("decimal(18,2)").as("o_totalprice")))),
      Model("stg_customer")(sp => Materializer.table(sp,
        TableRef("g_m22.stg_customer"),
        cust.select(col("c_custkey"), col("c_mktsegment")))),
      Model("mart_segment_sales", deps = Seq("stg_orders", "stg_customer"))(
        sp => Materializer.table(sp, TableRef("g_m22.mart_segment_sales"),
          sp.table("g_m22.stg_orders")
            .join(sp.table("g_m22.stg_customer"),
              col("o_custkey") === col("c_custkey"))
            .groupBy(col("c_mktsegment"))
            .agg(count(lit(1)).as("n_orders"),
              round(sum(col("o_totalprice")).cast("double"), 2)
                .as("revenue")))),
      Model("bad_model")(_ => throw new RuntimeException("planted failure")),
      Model("dead_model", deps = Seq("bad_model"))(_ => ()),
      Model("dead_deeper", deps = Seq("dead_model"))(_ => ()))
    val statuses = ModelGraph.run(s, models, parallelism = 4)
    import s.implicits._
    val statusDf = models.map(_.name).map { n =>
      statuses(n) match {
        case Success_   => (n, "success", null: String)
        case Failed(_)  => (n, "failed", null: String)
        case Skipped(d) => (n, "skipped", d)
      }
    }.toDF("name", "status", "blocked_by")
      .select(col("name"), col("status"), col("blocked_by"),
        lit(null).cast("string").as("c_mktsegment"),
        lit(null).cast("long").as("n_orders"),
        lit(null).cast("double").as("revenue"))
    val martDf = s.table("g_m22.mart_segment_sales")
      .select(lit("mart_row").as("name"), lit("data").as("status"),
        lit(null).cast("string").as("blocked_by"),
        col("c_mktsegment"), col("n_orders"), col("revenue"))
    statusDf.unionByName(martDf)
      .orderBy(col("name"), col("c_mktsegment"))
  }

  private val m22Sql =
    """WITH mart AS (
      |  SELECT c_mktsegment, COUNT(*) AS n_orders,
      |    round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
      |      AS revenue
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE o_orderstatus = 'F'
      |  GROUP BY 1),
      |status AS (
      |  SELECT * FROM (VALUES
      |    ('stg_orders', 'success', CAST(NULL AS VARCHAR)),
      |    ('stg_customer', 'success', NULL),
      |    ('mart_segment_sales', 'success', NULL),
      |    ('bad_model', 'failed', NULL),
      |    ('dead_model', 'skipped', 'bad_model'),
      |    ('dead_deeper', 'skipped', 'dead_model'))
      |    AS t(name, status, blocked_by))
      |SELECT name, status, blocked_by,
      |  CAST(NULL AS VARCHAR) AS c_mktsegment,
      |  CAST(NULL AS BIGINT) AS n_orders, CAST(NULL AS DOUBLE) AS revenue
      |FROM status
      |UNION ALL
      |SELECT 'mart_row', 'data', NULL, c_mktsegment, n_orders, revenue
      |FROM mart
      |ORDER BY name, c_mktsegment""".stripMargin

  // --------------------------------------- m23 compaction + crash recovery

  /** Table maintenance behind the driver's hash gate
    * ([[graft.exec.Maintenance]]): orders written 4-ways into a
    * priority-partitioned table (4 data files per partition), compacted to
    * one file per partition through the atomic partition swap, then a
    * planted crash leftover (`<t>__dbt_tmp`, the abandoned staging-table
    * shape) is swept by `recover`. The oracle pins the full evidence chain
    * per partition: measured file counts before (4) and after (1), row
    * counts and checksum UNCHANGED by the rewrite, 5 partitions compacted,
    * exactly one recover action, leftover gone. MaintenanceSpec keeps the
    * race/lease/null-partition cases; this puts the happy path's
    * end-to-end state behind the oracle. */
  private def m23(s: SparkSession, dir: String): DataFrame = {
    freshDb(s, "g_m23")
    val part = PartitionSpec.Static(Seq("o_orderpriority" -> "string"))
    val tgt = TableRef("g_m23.orders_part")
    // the writer repartitions by the partition columns (one file per
    // partition per write, AtomicWriter.createOrReplace) — the 4-files
    // state is built the way it arises in production: a CTAS plus three
    // appends of disjoint key quarters
    def quarter(q: Int): DataFrame = t(s, dir, "orders")
      .filter(col("o_orderkey") % 4 === q)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"),
        col("o_orderpriority"))
    Materializer.table(s, tgt, quarter(0), part)
    (1 to 3).foreach(q => Materializer.incremental(s, tgt, quarter(q),
      IncrementalStrategy.Append, partition = part))
    import graft.exec.Maintenance
    def fileCounts(name: String): DataFrame = {
      import s.implicits._
      // priority values ("1-URGENT"…) contain no path-escaped characters,
      // so the dir value IS the column value
      Maintenance.partitionFileCounts(s, tgt, part).toSeq
        .map { case (rel, n) => (rel.split("=", 2)(1), n) }
        .toDF("o_orderpriority", name)
    }
    val before = fileCounts("files_before")
    val compacted = Maintenance.compact(s, tgt, part, maxFiles = 1)
    val after = fileCounts("files_after")
    s.sql("CREATE TABLE g_m23.orders_part__dbt_tmp AS SELECT 1 AS x")
    val actions = Maintenance.recover(s, tgt)
    val tmpLeft =
      if (s.catalog.tableExists("g_m23.orders_part__dbt_tmp")) 1 else 0
    s.table(tgt.render)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("o_totalprice")).cast("double"), 2).as("total_price"))
      .join(broadcast(before), Seq("o_orderpriority"))
      .join(broadcast(after), Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("files_before").cast("int"),
        col("files_after").cast("int"), col("n_rows"), col("total_price"),
        lit(compacted.size).as("n_compacted"),
        lit(actions.size).as("n_recover_actions"),
        lit(tmpLeft).as("tmp_left"))
      .orderBy(col("o_orderpriority"))
  }

  private val m23Sql =
    """SELECT o_orderpriority, 4 AS files_before, 1 AS files_after,
      |  COUNT(*) AS n_rows,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
      |    AS total_price,
      |  5 AS n_compacted, 1 AS n_recover_actions, 0 AS tmp_left
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------- m24 watermarked windowed streaming aggregation

  /** [[graft.streaming.Streaming.windowedCounts]] — watermarked tumbling
    * event-time windows — behind the driver's hash gate, with the LATE-DATA
    * semantics actually exercised. Slabs 1–4 are the events table
    * range-partitioned on event time (the m18 ingest-log shape: file k =
    * time slab k, drained in mtime order); slab 5 arrives LAST carrying
    * (a) re-keyed copies of day-1 events — by then the watermark sits one
    * hour behind the slab-4 maximum, ~28 days past their window end, so
    * the engine must DROP every one — and (b) re-keyed fresh events inside
    * the final day's still-open window, which must be COUNTED (this pins
    * that slab 5 really drained: lose the slab and the fresh rows vanish
    * from the hash; leak the late rows and day-1 windows break it).
    * Update-mode emissions land per micro-batch via foreachBatch stamped
    * with their batch id; the final table takes each window's LATEST
    * emission, so the result is the full non-late aggregate with no
    * dependence on trailing no-data batches finalizing the tail windows
    * (append mode's close-out timing is engine-internal; the aggregate
    * VALUES are the contract). Oracle: the plain batch aggregate over
    * events ∪ the fresh plants. */
  private def m24(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"), col("ts"))
    val bounds = base.agg(
      max(col("event_id")), min(date_trunc("day", col("ts"))),
      max(date_trunc("day", col("ts")))).head
    val (off, minDay, maxDay) =
      (bounds.getLong(0) + 1, bounds.getTimestamp(1), bounds.getTimestamp(2))
    val late = base.filter(col("ts") < lit(minDay) + expr("INTERVAL 1 DAY"))
      .withColumn("event_id", col("event_id") + off)
    val fresh = base.filter(col("ts") >= lit(maxDay))
      .withColumn("event_id", col("event_id") + lit(2 * off))
    val root = tempDir("g_m24")
    base.repartitionByRange(4, col("ts"), col("event_id"))
      .write.parquet(s"$root/src")
    new java.io.File(s"$root/src").listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        f.setLastModified((i + 1) * 600000L) }
    late.unionByName(fresh).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/stage")
    val part5 = new java.io.File(s"$root/stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(s"$root/src/slab-5.parquet")
    java.nio.file.Files.move(part5.toPath, dst.toPath)
    dst.setLastModified(5 * 600000L)
    val stream = s.readStream.schema(base.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/src")
    val agg = graft.streaming.Streaming.windowedCounts(
      stream, "ts", "1 hour", "1 day")
    graft.streaming.Streaming.runToCompletion(
      agg.writeStream.outputMode("update")
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.withColumn("batch_id", lit(id))
            .write.mode("append").parquet(s"$root/emits"); () }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
    s.read.parquet(s"$root/emits")
      .groupBy(col("window_start"), col("event_type"))
      .agg(max(struct(col("batch_id"), col("window_end"), col("n"),
        col("total_value"))).as("m"))
      .select(col("window_start").cast("timestamp_ntz").as("window_start"),
        col("m.window_end").cast("timestamp_ntz").as("window_end"),
        col("event_type"), col("m.n").as("n"),
        col("m.total_value").as("total_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  private val m24Sql =
    """WITH src AS (
      |  SELECT event_type, value, ts FROM events
      |  UNION ALL
      |  SELECT event_type, value, ts FROM events
      |  WHERE ts >= date_trunc('day', (SELECT max(ts) FROM events)))
      |SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
      |  CAST(date_trunc('day', ts) + INTERVAL 1 DAY AS TIMESTAMP)
      |    AS window_end,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      |FROM src GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin

  /** m25 — STREAMING gap sessionization behind the FULL-VALUE oracle: the
    * `flatMapGroupsWithState` sessionizer (custom keyed state + event-time
    * timeouts, [[graft.streaming.Streaming.sessionize]]) driven over a file
    * stream of the events table, checked for exact equality against the
    * relational cumulative-flag formulation in DuckDB (q26's oracle — the
    * batch twin q26 pins `sessionizeBatch`; this pins the STREAMING path).
    *
    * Flush discipline: all real data rides ONE first batch (watermark still
    * at its floor → zero late drops), then two sentinel batches for a
    * fictitious user advance the event-time watermark past every real
    * session's close + gap. The second sentinel is a DATA batch processed
    * with the watermark already beyond all registered timeouts, so every
    * remaining open session flushes inside a data batch — no reliance on
    * trailing no-data microbatches. Sentinel sessions never close and are
    * filtered from the output. Scale shape: state and shuffle are per-user
    * and bounded by open sessions only; emission is append-exactly-once. */
  private def m25(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "events").filter(col("user_id") <= 100)
      .select(col("user_id"), col("ts"))
    // flavor-agnostic max: events.ts is NTZ from naive parquet; the UTC
    // session makes the cast a lossless wall-clock reinterpretation
    val maxUs = base.agg(max(unix_micros(col("ts").cast("timestamp"))))
      .head.getLong(0)
    val tsType = base.schema("ts").dataType
    val root = tempDir("g_m25")
    base.coalesce(1).write.parquet(s"$root/src")
    new java.io.File(s"$root/src").listFiles()
      .filter(_.getName.startsWith("part-"))
      .foreach { f => f.setLastModified(600000L); () }
    def sentinel(plusSec: Long, idx: Int): Unit = {
      import s.implicits._
      Seq((-1L, java.sql.Timestamp.from(
          java.time.Instant.ofEpochMilli(maxUs / 1000L + plusSec * 1000L))))
        .toDF("user_id", "ts")
        .select(col("user_id"), col("ts").cast(tsType).as("ts"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$root/stage")
      val part = new java.io.File(s"$root/stage").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$root/src/sentinel-$idx.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(idx * 600000L); ()
    }
    sentinel(7200L, 2); sentinel(14400L, 3)
    val stream = s.readStream.schema(base.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/src")
    val sessions = graft.streaming.Streaming.sessionizeStream(
      stream, java.time.Duration.ofMinutes(30), watermark = "0 seconds")
    graft.streaming.Streaming.runToCompletion(
      sessions.writeStream.outputMode("append")
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("append").parquet(s"$root/emits"); () }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
    s.read.parquet(s"$root/emits").filter(col("user_id") >= 0)
      .select(col("user_id"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  private val m25Sql =
    """WITH e AS (SELECT user_id, ts FROM events WHERE user_id <= 100),
      |g AS (SELECT user_id, ts,
      |        CASE WHEN lag(ts) OVER w IS NULL
      |             OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
      |        THEN 1 ELSE 0 END AS new_s
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (SELECT user_id, ts, SUM(new_s) OVER
      |        (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM g)
      |SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start,
      |  CAST(MAX(ts) AS TIMESTAMP) AS session_end, COUNT(*) AS n_events
      |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  /** m26 — watermarked stream-stream interval join behind the FULL-VALUE
    * oracle: clicks and purchases of the events table, each read as its own
    * file stream, joined per user on |purchase.ts − click.ts| ≤ 1 hour
    * ([[graft.streaming.Streaming.intervalJoin]]) and checked for exact
    * equality against the plain relational interval join in DuckDB. Inner
    * stream-stream joins emit matches as they arrive, so a single
    * AvailableNow pass yields the complete join; the watermarks exist to
    * BOUND THE JOIN STATE both engines must retain — the property that
    * matters at cluster scale (an unwatermarked stream join grows state
    * without bound). */
  private def m26(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(col("user_id") <= 100)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val root = tempDir("g_m26")
    clicks.write.parquet(s"$root/l")
    purchases.write.parquet(s"$root/r")
    val joined = graft.streaming.Streaming.intervalJoin(
      graft.streaming.Streaming.parquetStream(s, s"$root/l"),
      graft.streaming.Streaming.parquetStream(s, s"$root/r"),
      key = "user_id", tsCol = "ts", watermark = "0 seconds",
      before = "1 HOUR", after = "1 HOUR")
    graft.streaming.Streaming.runToCompletion(
      joined.writeStream.outputMode("append")
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("append").parquet(s"$root/out"); () }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
    s.read.parquet(s"$root/out")
      .select(col("user_id"), col("l_event_id"), col("r_event_id"),
        col("r_value").cast("double").as("r_value"))
      .orderBy(col("user_id"), col("l_event_id"), col("r_event_id"))
  }

  private val m26Sql =
    """WITH e AS (SELECT user_id, ts, event_id, event_type, value
      |           FROM events WHERE user_id <= 100),
      |c AS (SELECT user_id, ts, event_id FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts, event_id, value FROM e
      |      WHERE event_type = 'purchase')
      |SELECT c.user_id, c.event_id AS l_event_id, p.event_id AS r_event_id,
      |  CAST(p.value AS DOUBLE) AS r_value
      |FROM c JOIN p ON c.user_id = p.user_id
      |  AND p.ts >= c.ts - INTERVAL 1 HOUR AND p.ts <= c.ts + INTERVAL 1 HOUR
      |ORDER BY 1, 2, 3""".stripMargin

  /** m27 — stream-static broadcast enrichment join behind the FULL-VALUE
    * oracle: the events table read as a file stream (8 files per trigger,
    * so the enrichment provably survives an arbitrary batch split) is
    * inner-joined per micro-batch against the STATIC customer dimension
    * with an explicit broadcast hint, and the landed enriched rows are
    * checked for exact equality against the plain relational join in
    * DuckDB. This is the canonical streaming-ETL enrichment shape the
    * m17–m26 family does not cover: unlike the stream-stream join (m26)
    * it is STATELESS — no watermark, no state store, no join buffer — and
    * the broadcast keeps the stream side shuffle-free, so at cluster scale
    * each micro-batch costs one narrow map-side pass regardless of history
    * size (the dim re-broadcasts per batch and may be refreshed between
    * batches — the lookup-table pattern). Batch-split invariance is
    * structural: a per-row stateless join commutes with any partition of
    * the stream into batches. */
  private def m27(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
    val root = tempDir("g_m27")
    ev.write.parquet(s"$root/src")
    val dim = broadcast(t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey")))
    val joined = s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 8).parquet(s"$root/src")
      .join(dim, col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("event_type"),
        col("value").cast("double").as("value"),
        col("c_mktsegment"), col("c_nationkey"))
    graft.streaming.Streaming.runToCompletion(
      joined.writeStream.outputMode("append")
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("append").parquet(s"$root/out"); () }
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
    s.read.parquet(s"$root/out").orderBy(col("event_id"))
  }

  private val m27Sql =
    """SELECT e.event_id, e.event_type, CAST(e.value AS DOUBLE) AS value,
      |  c.c_mktsegment, c.c_nationkey
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |ORDER BY e.event_id""".stripMargin

  /** m28 — incremental AGGREGATE maintenance (the rollup pattern): a
    * per-(priority, month) count/sum rollup is kept current across three
    * arriving batches by merging each batch's PARTIAL aggregate into the
    * stored rollup — history rows are never rescanned. Per batch the
    * corpus-scale work is one map-side-combined aggregate over THAT batch;
    * the additive merge (union + re-aggregate) touches two rollup-sized
    * tables, and rollup size ∝ key cardinality, not corpus size — so at
    * 100 TB each refresh costs the new slab plus a key-space-sized merge,
    * where a view-style refresh (m14) would rescan everything. The rollup
    * swap rides [[graft.exec.AtomicWriter.overwriteTable]] (staged write +
    * location flip — crash-safe, and the read-then-overwrite cycle is
    * resolved by staging). Oracle: the full aggregate over orders — any
    * double-count, lost batch, or merge drift hash-mismatches. Decimal
    * sums per the double-parity rule. */
  private def m28(s: SparkSession, dir: String): DataFrame = {
    freshDb(s, "g_m28")
    val ref = graft.catalog.TableRef("g_m28.rollup")
    val o = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderpriority").as("prio"),
      date_trunc("month", col("o_orderdate")).cast("date").as("mon"),
      col("o_totalprice").cast("decimal(18,2)").as("price"))
    (0 until 3).foreach { i =>
      val part = o.filter(col("o_orderkey") % 3 === i)
        .groupBy(col("prio"), col("mon"))
        .agg(count(lit(1)).as("n"), sum(col("price")).as("tot"))
      val merged =
        if (i == 0) part
        else s.table("g_m28.rollup").unionByName(part)
          .groupBy(col("prio"), col("mon"))
          .agg(sum(col("n")).as("n"), sum(col("tot")).as("tot"))
      graft.exec.AtomicWriter.overwriteTable(s, merged, ref)
    }
    s.table("g_m28.rollup")
      .select(col("prio"), col("mon"), col("n"),
        round(col("tot").cast("double"), 2).as("total"))
      .orderBy(col("prio"), col("mon"))
  }

  private val m28Sql =
    """SELECT o_orderpriority AS prio,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
      |  COUNT(*) AS n,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
      |    AS total
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------ m29 streaming ANN index ingest

  /** Streaming ANN index ingest
    * ([[graft.streaming.Streaming.indexIngestStream]]) — the persisted-
    * quantizer store ([[graft.llm.IndexStore]]) fed by a file-source
    * stream, completing the streaming store matrix (m19 exact / m20
    * near-dup / m21 semantic / NOW vector index): train once on the
    * corpus snapshot, stream the corpus in three disjoint slabs
    * (maxFilesPerTrigger=1 → one codes segment per microbatch), then
    * prove the streamed index end-to-end: search recall vs the brute
    * twin at s13's dials, segment + code-row accounting, and byte-stable
    * full-backlog replay (fresh checkpoint re-offers every batch; each
    * append must no-op on its committed marker before any write). */
  private def m29(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.{DedupStore, IndexStore, Similarity}
    val emb = t(s, dir, "embeddings")
    val base = tempDir("g_m29")
    val schema = landSlabs(base,
      (0 until 3).map(b => emb.filter(col("vec_id") % 3 === b)))
    val store = s"$base/store"
    IndexStore.train(s, store, emb, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, seed = 42L)
    def snap = (DedupStore.committedBatches(s, s"$store/codes").size,
      IndexStore.readCodes(s, store).count())
    val ((segs1, rows1), (segs2, rows2)) = replayDrains(s, base, schema)(
      Streaming.indexIngestStream(s, _, store, _))(snap)(snap)
    val embCount = emb.count()
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("corpus_id"))
    val approx = IndexStore.searchTopK(s, store, emb, q, k = 5, nprobe = 3,
        rerank = 32)
      .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
    exact.join(approx, Seq("query_id", "corpus_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        // n_indexed VALUE-matches the oracle's corpus count — an absolute
        // anchor on the store contents beyond the gate booleans (r15, the
        // dt07 discipline applied here)
        lit(rows1).as("n_indexed"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.5).as("recall_ok"),
        lit(segs1 == 3 && rows1 == embCount).as("store_consistent"),
        lit(segs2 == segs1 && rows2 == rows1).as("replay_stable"))
  }

  private val m29Sql =
    """SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_exact,
      |  (SELECT COUNT(*) FROM embeddings) AS n_indexed,
      |  TRUE AS recall_ok,
      |  TRUE AS store_consistent, TRUE AS replay_stable
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  // --------------------------------- m30 streaming VIDEO ingest dedup

  /** Streaming VIDEO ingest dedup
    * ([[graft.streaming.Streaming.videoIngestStream]]) — the video leg of
    * the streaming store-dedup matrix (m19 exact / m20 MinHash / m21
    * semantic / m29 index): history clips' frame-hash signatures seed the
    * durable store (batch −1), then a two-slab backlog drains through an
    * AvailableNow stream — slab A is 100 fresh clips (every keep/drop is
    * DETERMINISTIC: the frame-aligned probe is pigeonhole-exact, so the
    * oracle derives the exact survivor count from closed-form frame
    * hashes — no probabilistic gate anywhere in this row); slab B mixes
    * re-encoded TRANSCODES of history clips (caught via the seed
    * segment), transcodes of slab-A clips (catchable ONLY through slab
    * A's appended segment — the store measurably GREW), and fresh clips.
    * n_a_kept / n_b_fresh_kept / n_b_reenc_kept VALUE-match DuckDB's
    * closed-form replay of the same two-epoch store evolution; the gates
    * pin full-backlog replay byte-stability and exact store accounting
    * (signature rows = seed + Σ n_frames of kept clips). */
  private def m30(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.{DedupStore, Multimodal}
    val docs = t(s, dir, "documents")
    val hist = Multimodal.videoAhashes(Multimodal.synthesizeVideoCorpus(
        docs.filter(col("doc_id") < 300), "doc_id"))
      .select(col("id").as("vid_id"), col("n_frames"), col("frame_idx"),
        col("ahash"))
    val base = tempDir("g_m30")
    val store = s"$base/store"
    val histSigRows = hist.count()
    DedupStore.appendVideoSigs(s, store, -1L, hist)
    val slabA = Multimodal.synthesizeVideoCorpus(
      docs.filter(col("doc_id") >= 300 && col("doc_id") < 400), "doc_id")
    val slabB = Multimodal.synthesizeVideoCorpus(
      docs.filter(col("doc_id") < 400 && col("doc_id") % 5 === 0)
        .select((col("doc_id") + lit(100000L)).as("doc_id"))
        .unionByName(docs.filter(col("doc_id") >= 400 && col("doc_id") < 450)
          .select(col("doc_id").cast("long").as("doc_id"))), "doc_id")
    val schema = landSlabs(base, Seq(slabA, slabB))
    def storeRows = DedupStore.readVideoSigs(s, store).count()
    val ((out1, storeRows1), (out2, storeRows2)) =
      replayDrains(s, base, schema)(
        Streaming.videoIngestStream(s, _, store, s"$base/out", _))(
        (ingestOut(s, base, "id").localCheckpoint(), storeRows))(
        (ingestOut(s, base, "id"), storeRows))
    // appended signature rows per kept clip = its frame count, closed form
    val framesKept = out1
      .agg(sum(expr("2 + (id % 100000) % 3")).as("__frames_kept"))
    out1.agg(
        sum(when(col("batch") === 0, 1L).otherwise(0L)).cast("bigint")
          .as("n_a_kept"),
        sum(when(col("batch") === 1 && col("id") < 100000L, 1L)
          .otherwise(0L)).cast("bigint").as("n_b_fresh_kept"),
        sum(when(col("batch") === 1 && col("id") >= 100000L, 1L)
          .otherwise(0L)).cast("bigint").as("n_b_reenc_kept"))
      .crossJoin(broadcast(nDiff(out1, out2, Seq("id", "batch"))))
      .crossJoin(broadcast(framesKept))
      .select(col("n_a_kept"), col("n_b_fresh_kept"), col("n_b_reenc_kept"),
        replayStable,
        (lit(storeRows1) === lit(histSigRows) + col("__frames_kept"))
          .as("store_consistent"),
        lit(storeRows2 == storeRows1).as("store_stable"))
  }

  /** The m30 oracle replays the two-epoch store evolution in SQL from the
    * closed-form frame hashes: keptA = slab-A clips with no frame-aligned
    * match in history; keptB = slab-B clips with no match in history ∪
    * keptA (re-encodes carry their base's hashes, so every transcode
    * matches either its stored base or the same history clip its base
    * matched — n_b_reenc_kept is derived, not assumed). */
  private val m30Sql =
    """WITH bases AS (SELECT DISTINCT doc_id AS b FROM documents
      |    WHERE doc_id < 450),
      |dims AS (SELECT b, 8 + b % 24 AS w, 8 + b % 12 AS h,
      |    CAST(2 + b % 3 AS INT) AS nf FROM bases),
      |fr AS (SELECT b, w, h, nf, unnest(range(nf)) AS f FROM dims),
      |px AS (SELECT b, f, nf, w, h, p % w AS x, p // w AS y,
      |    (b + 97 * f + 7 * (p % w) + 13 * (p // w)) % 256 AS v
      |  FROM (SELECT b, f, nf, w, h, unnest(range(w * h)) AS p FROM fr)),
      |cells AS (SELECT b, f, nf, CAST(y * 8 // h * 8 + x * 8 // w AS INT) AS c,
      |    SUM(v) AS cs, COUNT(*) AS cn, MAX(w * h) AS np
      |  FROM px GROUP BY 1, 2, 3, 4),
      |tot AS (SELECT b, f, SUM(cs) AS ts FROM cells GROUP BY 1, 2),
      |hsh AS (SELECT cells.b, cells.f, cells.nf, CAST(SUM(CASE
      |    WHEN cs * np > ts * cn THEN
      |      CASE WHEN c = 0 THEN -9223372036854775808
      |           ELSE (CAST(1 AS BIGINT) << (63 - c)) END
      |    ELSE 0 END) AS BIGINT) AS ahash
      |  FROM cells JOIN tot ON cells.b = tot.b AND cells.f = tot.f
      |  GROUP BY 1, 2, 3),
      |hist AS (SELECT b AS vid_id, nf, f, ahash FROM hsh WHERE b < 300),
      |slab_a AS (SELECT b AS id, nf, f, ahash FROM hsh
      |  WHERE b >= 300 AND b < 400),
      |kept_a AS (SELECT DISTINCT id FROM slab_a
      |  WHERE id NOT IN (
      |    SELECT a.id FROM slab_a a JOIN hist h ON a.f = h.f AND a.nf = h.nf
      |    GROUP BY a.id, h.vid_id
      |    HAVING MAX(bit_count(xor(a.ahash, h.ahash))) <= 3)),
      |store1 AS (SELECT vid_id, nf, f, ahash FROM hist
      |  UNION ALL
      |  SELECT id, nf, f, ahash FROM slab_a WHERE id IN (SELECT id FROM kept_a)),
      |slab_b AS (
      |  SELECT b + 100000 AS id, nf, f, ahash FROM hsh
      |  WHERE b < 400 AND b % 5 = 0
      |  UNION ALL
      |  SELECT b AS id, nf, f, ahash FROM hsh WHERE b >= 400 AND b < 450),
      |kept_b AS (SELECT DISTINCT id FROM slab_b
      |  WHERE id NOT IN (
      |    SELECT sb.id FROM slab_b sb JOIN store1 st
      |      ON sb.f = st.f AND sb.nf = st.nf
      |    GROUP BY sb.id, st.vid_id
      |    HAVING MAX(bit_count(xor(sb.ahash, st.ahash))) <= 3))
      |SELECT
      |  (SELECT COUNT(*) FROM kept_a) AS n_a_kept,
      |  (SELECT COUNT(*) FROM kept_b WHERE id < 100000) AS n_b_fresh_kept,
      |  (SELECT COUNT(*) FROM kept_b WHERE id >= 100000) AS n_b_reenc_kept,
      |  TRUE AS replay_stable, TRUE AS store_consistent,
      |  TRUE AS store_stable""".stripMargin

  // --------------------------------- m31 streaming AUDIO ingest dedup

  /** Streaming AUDIO ingest dedup
    * ([[graft.streaming.Streaming.audioIngestStream]]) — the audio leg of
    * the streaming store-dedup matrix (m19 exact / m20 MinHash / m21
    * semantic / m29 index / m30 video): history clips' sign-pattern
    * signatures seed the durable store (batch −1), then a two-slab
    * backlog drains through an AvailableNow stream — slab A is 100 fresh
    * clips (every keep/drop is DETERMINISTIC: the frame-aligned equality
    * probe has recall exactly 1.0 and the oscillating PCM fill makes
    * distinct clips sign-distinct, so the oracle derives the exact
    * survivor count from closed-form sign bits — no probabilistic gate
    * anywhere in this row); slab B mixes volume-attenuated RE-ENCODES of
    * history clips (caught via the seed segment), re-encodes of slab-A
    * clips (catchable ONLY through slab A's appended segment — the store
    * measurably GREW), and fresh clips. n_a_kept / n_b_fresh_kept /
    * n_b_reenc_kept VALUE-match DuckDB's closed-form replay of the same
    * two-epoch store evolution; the gates pin full-backlog replay
    * byte-stability and exact store accounting (signature rows = seed +
    * Σ n_frames of kept clips). */
  private def m31(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.{DedupStore, Multimodal}
    val docs = t(s, dir, "documents")
    val hist = Multimodal.audioSignSigs(Multimodal.synthesizeAudioCorpus(
        docs.filter(col("doc_id") < 300), "doc_id"))
      .select(col("id").as("clip_id"), col("n_frames"), col("frame_idx"),
        col("sig"))
    val base = tempDir("g_m31")
    val store = s"$base/store"
    val histSigRows = hist.count()
    DedupStore.appendAudioSigs(s, store, -1L, hist)
    val slabA = Multimodal.synthesizeAudioCorpus(
      docs.filter(col("doc_id") >= 300 && col("doc_id") < 400), "doc_id")
    val slabB = Multimodal.synthesizeAudioCorpus(
      docs.filter(col("doc_id") < 400 && col("doc_id") % 5 === 0)
        .select((col("doc_id") + lit(100000L)).as("doc_id"))
        .unionByName(docs.filter(col("doc_id") >= 400 && col("doc_id") < 450)
          .select(col("doc_id").cast("long").as("doc_id"))), "doc_id")
    val schema = landSlabs(base, Seq(slabA, slabB))
    def storeRows = DedupStore.readAudioSigs(s, store).count()
    val ((out1, storeRows1), (out2, storeRows2)) =
      replayDrains(s, base, schema)(
        Streaming.audioIngestStream(s, _, store, s"$base/out", _))(
        (ingestOut(s, base, "id").localCheckpoint(), storeRows))(
        (ingestOut(s, base, "id"), storeRows))
    // appended signature rows per kept clip = its frame count, closed form
    val framesKept = out1
      .agg(sum(expr("2 + (id % 100000) % 3")).as("__frames_kept"))
    out1.agg(
        sum(when(col("batch") === 0, 1L).otherwise(0L)).cast("bigint")
          .as("n_a_kept"),
        sum(when(col("batch") === 1 && col("id") < 100000L, 1L)
          .otherwise(0L)).cast("bigint").as("n_b_fresh_kept"),
        sum(when(col("batch") === 1 && col("id") >= 100000L, 1L)
          .otherwise(0L)).cast("bigint").as("n_b_reenc_kept"))
      .crossJoin(broadcast(nDiff(out1, out2, Seq("id", "batch"))))
      .crossJoin(broadcast(framesKept))
      .select(col("n_a_kept"), col("n_b_fresh_kept"), col("n_b_reenc_kept"),
        replayStable,
        (lit(storeRows1) === lit(histSigRows) + col("__frames_kept"))
          .as("store_consistent"),
        lit(storeRows2 == storeRows1).as("store_stable"))
  }

  /** The m31 oracle replays the two-epoch store evolution in SQL from the
    * closed-form sign bits: keptA = slab-A clips with no frame-aligned
    * full-equality match in history; keptB = slab-B clips with no match
    * in history ∪ keptA (re-encodes carry their base's signature, so
    * every transcode matches either its stored base or the same history
    * clip its base matched — n_b_reenc_kept is derived, not assumed). */
  private val m31Sql =
    """WITH bases AS (SELECT DISTINCT doc_id AS b FROM documents
      |    WHERE doc_id < 450),
      |dims AS (SELECT b, CAST(2 + b % 3 AS INT) AS nf FROM bases),
      |fr AS (SELECT b, nf, unnest(range(nf)) AS f FROM dims),
      |bits AS (SELECT b, nf, f, unnest(range(64)) AS j FROM fr),
      |sg AS (SELECT b, nf, f, CAST(SUM(CASE
      |    WHEN (b * 20011 + 9973 * (f * 64 + j)
      |          + b * (f * 64 + j) * 37) % 65536 >= 32768 THEN
      |      CASE WHEN j = 0 THEN -9223372036854775808
      |           ELSE (CAST(1 AS BIGINT) << (63 - j)) END
      |    ELSE 0 END) AS BIGINT) AS sig
      |  FROM bits GROUP BY 1, 2, 3),
      |hist AS (SELECT b AS clip_id, nf, f, sig FROM sg WHERE b < 300),
      |slab_a AS (SELECT b AS id, nf, f, sig FROM sg
      |  WHERE b >= 300 AND b < 400),
      |kept_a AS (SELECT DISTINCT id FROM slab_a
      |  WHERE id NOT IN (
      |    SELECT a.id FROM slab_a a JOIN hist h ON a.f = h.f AND a.nf = h.nf
      |    GROUP BY a.id, h.clip_id
      |    HAVING SUM(CASE WHEN a.sig <> h.sig THEN 1 ELSE 0 END) = 0)),
      |store1 AS (SELECT clip_id, nf, f, sig FROM hist
      |  UNION ALL
      |  SELECT id, nf, f, sig FROM slab_a WHERE id IN (SELECT id FROM kept_a)),
      |slab_b AS (
      |  SELECT b + 100000 AS id, nf, f, sig FROM sg
      |  WHERE b < 400 AND b % 5 = 0
      |  UNION ALL
      |  SELECT b AS id, nf, f, sig FROM sg WHERE b >= 400 AND b < 450),
      |kept_b AS (SELECT DISTINCT id FROM slab_b
      |  WHERE id NOT IN (
      |    SELECT sb.id FROM slab_b sb JOIN store1 st
      |      ON sb.f = st.f AND sb.nf = st.nf
      |    GROUP BY sb.id, st.clip_id
      |    HAVING SUM(CASE WHEN sb.sig <> st.sig THEN 1 ELSE 0 END) = 0))
      |SELECT
      |  (SELECT COUNT(*) FROM kept_a) AS n_a_kept,
      |  (SELECT COUNT(*) FROM kept_b WHERE id < 100000) AS n_b_fresh_kept,
      |  (SELECT COUNT(*) FROM kept_b WHERE id >= 100000) AS n_b_reenc_kept,
      |  TRUE AS replay_stable, TRUE AS store_consistent,
      |  TRUE AS store_stable""".stripMargin

  // ------------------------------ m32 self-healing streaming index ingest

  /** SELF-HEALING streaming index ingest
    * ([[graft.streaming.Streaming.autoRotateIndexIngest]] →
    * [[graft.llm.IndexStore.ingestWithDriftGuard]]) — the m29 ingest loop
    * with dt07's drift monitor and s18's retrain-rotate CLOSED INSIDE the
    * pipeline: slab 1 bootstraps the store through the alias, slab 2
    * (same distribution) appends under the quantizer the monitor clears,
    * slab 3 arrives SHIFTED +0.5/dim — the per-batch calibration-split
    * dial fires (store-vs-batch chi² ≫ within-batch chi²) and the batch
    * triggers a fresh fit on history + batch with an atomic alias
    * cutover instead of appending garbage codes. Proven end-to-end:
    * n_indexed VALUE-matches the corpus count through the fold +
    * empty-marker accounting, rotated_once pins exactly two published
    * pointers (boot + the one rotation — a same-distribution fire would
    * make three), recall over the DRIFTED corpus through the alias gated
    * at the family bound (the pre-rotate quantizer never saw the shifted
    * region), and a fresh-checkpoint full replay is byte-stable ACROSS
    * the cutover (every batch id no-ops against the new root's carried
    * markers — the exactly-once-through-rotation claim). */
  private def m32(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.{IndexStore, Similarity}
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val s0 = emb.filter(col("vec_id") % 4 === 0)
    val s1 = emb.filter(col("vec_id") % 4 === 1)
    val s2 = emb.filter(col("vec_id") % 4 >= 2).select(col("vec_id"),
      transform(col("embedding"), x => x + lit(0.5f)).as("embedding"))
    val corpus = s0.unionByName(s1).unionByName(s2).localCheckpoint()
    val base = tempDir("g_m32")
    // slab order IS arrival order: the file source drains by mtime
    val schema = landSlabs(base, Seq(s0, s1, s2))
    val alias = s"$base/alias"
    def snap = {
      val root = IndexStore.currentRoot(s, alias).get
      (root, new java.io.File(alias).listFiles()
        .count(_.getName.startsWith("ptr-")),
        IndexStore.readCodes(s, root).count())
    }
    val ((root1, ptrs1, rows1), (root2, ptrs2, rows2)) =
      replayDrains(s, base, schema)(
        Streaming.autoRotateIndexIngest(s, _, alias, corpus, _, dim = 64,
          nlist = 8, m = 8, codebookSize = 16, seed = 42L))(snap)(snap)
    val corpusCount = corpus.count()
    val q = corpus.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(corpus, q, k = 5)
      .select(col("query_id"), col("corpus_id"))
    val approx = IndexStore.searchCurrent(s, alias, corpus, q, k = 5,
        nprobe = 3, rerank = 32)
      .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
    exact.join(approx, Seq("query_id", "corpus_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        lit(rows1).as("n_indexed"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.5).as("recall_ok"),
        lit(ptrs1 == 2 && rows1 == corpusCount).as("rotated_once"),
        lit(ptrs2 == ptrs1 && rows2 == rows1 && root2 == root1)
          .as("replay_stable"))
  }

  private val m32Sql =
    """SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_exact,
      |  (SELECT COUNT(*) FROM embeddings) AS n_indexed,
      |  TRUE AS recall_ok, TRUE AS rotated_once, TRUE AS replay_stable
      |FROM embeddings WHERE vec_id < 10""".stripMargin

  // -------------------------------- m33 index-store maintenance lifecycle

  /** ONE scheduled maintenance call on a long-lived index alias
    * ([[graft.llm.IndexStore.maintain]], r16): a store with a superseded
    * rotation epoch, a stream of committed ingest segments, drift-guard
    * yardstick files and crashed-trainer staging debris goes through one
    * `maintain` pass that must (a) GC the superseded store while the live
    * root keeps serving, (b) sweep the staging debris, (c) bound the
    * yardstick files, (d) fold history beyond the as-of horizon with the
    * replay record preserved — and a second pass must be quiet. Store
    * CONTENT is value-matched by DuckDB (count + id-sum of what the
    * folded segments hold vs the corpus — the m29/dt07 anchor
    * discipline), search recall re-gated through the maintained store,
    * as-of proven both ways at the horizon (works at it, refuses loudly
    * below it), and a replayed folded batch must still no-op. */
  private def m33(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.{DedupStore, IndexStore, Similarity}
    // the even half of the corpus: every maintenance leg and anchor is
    // identical in kind, at half the encode/fold cost (lifecycle rows
    // must not multiply suite cost — the r15 verdict watchpoint)
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") % 2 === 0)
    val alias = tempDir("g_m33")
    def b(i: Int) = emb.filter(col("vec_id") % 20 === 2 * i)
    def ingest(id: Long, batch: org.apache.spark.sql.DataFrame): Boolean =
      IndexStore.ingestWithDriftGuard(s, alias, id, batch, emb,
        dim = 64, nlist = 8, m = 8, codebookSize = 16, seed = 42L)
    // epoch 0 bootstraps; an immediate re-fit rotation leaves a
    // superseded store for the GC leg (the live fold still holds b0 only)
    ingest(0L, b(0))
    val root0 = IndexStore.currentRoot(s, alias).get
    val root1 = IndexStore.rotate(s, alias, b(0), dim = 64, nlist = 8,
      m = 8, codebookSize = 16, seed = 43L, foldBatchId = -1L)
    // carry epoch-0's replay marker across the manual rotation (the
    // guarded ingest's own rotations do this internally — batch 0's
    // content is the fold, so its id is committed as a ledger entry)
    IndexStore.markBatchCommitted(s, root1, 0L)
    // three guarded batches (each records a yardstick stat), then six
    // plain appends — nine ingest segments + the fold on the live root
    (1 to 3).foreach(i => ingest(i.toLong, b(i)))
    // encode-once slab for the plain appends (r19, guide §1): ONE encode
    // of batches 4–9's union against root1's quantizer, each segment a
    // filtered slice — encode is row-wise, so slice-then-encode ≡
    // encode-then-slice and the written segments are identical to
    // per-batch encodes, with one encode job instead of six
    val codes1 = graft.llm.Similarity.encodeResidual(
      emb.filter(col("vec_id") % 20 >= 8),
      IndexStore.loadQuantizer(s, root1)).localCheckpoint()
    (4 to 9).foreach(i => IndexStore.appendEncoded(s, root1, i.toLong,
      codes1.filter(col("corpus_id") % 20 === 2 * i)))
    // crashed-trainer staging debris (aged; minAgeMs=0 below)
    val fsys = new org.apache.hadoop.fs.Path(root1)
      .getFileSystem(s.sessionState.newHadoopConf())
    fsys.mkdirs(new org.apache.hadoop.fs.Path(root1, ".quantizer-tmp-m33"))
    val rep = IndexStore.maintain(s, alias, keepPointers = 1, minAgeMs = 0L,
      keepGuardStats = 2, compactMinSegments = 3, asOfHorizonSegments = 3)
    val rep2 = IndexStore.maintain(s, alias, keepPointers = 1, minAgeMs = 0L,
      keepGuardStats = 2, compactMinSegments = 3, asOfHorizonSegments = 3)
    val sweptOk = rep.sweptStores.nonEmpty &&
      IndexStore.currentRoot(s, alias).contains(root1) &&
      IndexStore.quantizerCommitted(s, root1) &&
      !fsys.exists(new org.apache.hadoop.fs.Path(root0))
    val stagingOk = rep.sweptStaging.exists(_.contains("quantizer-tmp-m33")) &&
      !fsys.exists(new org.apache.hadoop.fs.Path(root1, ".quantizer-tmp-m33"))
    val committed = DedupStore.committedBatches(s, s"$root1/codes")
    val foldOk = rep.compactedFold.exists(_ >= DedupStore.CompactBase) &&
      (-1L to 9L).forall(committed.contains) // replay record preserved
    val preReplay = IndexStore.readCodes(s, root1).count()
    val replayOk = !ingest(5L, emb.limit(3)) &&
      IndexStore.readCodes(s, root1).count() == preReplay
    val q = emb.filter(col("vec_id") < 10)
    val asofOk = IndexStore.searchTopK(s, root1, emb, q, k = 5, nprobe = 3,
        rerank = 32, asOfBatch = 7L).count() > 0 &&
      (try {
        IndexStore.searchTopK(s, root1, emb, q, k = 5, nprobe = 3,
          rerank = 32, asOfBatch = 3L).count(); false
      } catch { case e: IllegalStateException =>
        e.getMessage.contains("cannot be reconstructed") })
    val quietOk = rep2.compactedFold.isEmpty && rep2.sweptStores.isEmpty &&
      rep2.sweptStaging.isEmpty && rep2.prunedGuardStats == 0
    // store-content anchors: what the maintained store actually holds
    val stored = IndexStore.readCodes(s, root1)
      .agg(count(lit(1)).as("n_indexed"),
        sum(col("corpus_id")).as("sum_ids"))
    val exact = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("query_id"), col("corpus_id"))
    val approx = IndexStore.searchCurrent(s, alias, emb, q, k = 5,
        nprobe = 3, rerank = 32)
      .select(col("query_id"), col("corpus_id"), lit(1).as("hit"))
    exact.join(approx, Seq("query_id", "corpus_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1))
          >= 0.5).as("recall_ok"),
        lit(rep.prunedGuardStats == 1).as("pruned_ok"),
        lit(sweptOk).as("swept_ok"), lit(stagingOk).as("staging_ok"),
        lit(foldOk).as("fold_ok"), lit(asofOk).as("asof_ok"),
        lit(replayOk).as("replay_ok"), lit(quietOk).as("quiet_ok"))
      .crossJoin(broadcast(stored))
  }

  private val m33Sql =
    """SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_exact,
      |  TRUE AS recall_ok, TRUE AS pruned_ok, TRUE AS swept_ok,
      |  TRUE AS staging_ok, TRUE AS fold_ok, TRUE AS asof_ok,
      |  TRUE AS replay_ok, TRUE AS quiet_ok,
      |  (SELECT COUNT(*) FROM embeddings WHERE vec_id % 2 = 0) AS n_indexed,
      |  CAST((SELECT SUM(vec_id) FROM embeddings WHERE vec_id % 2 = 0)
      |    AS BIGINT) AS sum_ids
      |FROM embeddings WHERE vec_id < 10 AND vec_id % 2 = 0""".stripMargin

  // ----------------------- m34 z-order compaction on a CATALOG table

  /** [[graft.exec.Maintenance.zorderCompact]] — the Layout degradation→
    * maintenance story (q34/q36/q37 prove it on path directories) carried
    * to CATALOG tables through the committer seam. Fixture: lineitem
    * partitioned by l_returnflag; a CTAS plus three appends leave flags
    * A/R with 4 unclustered files each while flag N (excluded from the
    * appends) keeps its single CTAS file. One `zorderCompact` call
    * rewrites ONLY the offending partitions, z-clustered on
    * (l_partkey, l_suppkey) with `maxRecordsPerFile` sized to ⌈n/3⌉ of
    * the largest offending partition — so each compacted partition rolls
    * into ≤3 files, each covering one contiguous z-range.
    *
    * Evidence, all VALUE-matched: measured file counts before (4/1/4)
    * and after (⌈n/m⌉ per flag, arithmetic DuckDB reproduces); row
    * count / quantity / orderkey checksums unchanged by the rewrite; the
    * untouched partition's files BYTE-STABLE (name+length+mtime set
    * compared across the swap — it was never staged); the measured worst
    * per-file key-span ratio per partition equals DuckDB's recomputation
    * from pure arithmetic (file k of a partition holds exactly z-ranks
    * [k·m,(k+1)·m) — the tiebreak makes the order total, so chunk→file
    * is a function of the data, the q36 determinism discipline); and a
    * second maintenance call is QUIET (≤3 ≤ maxFiles: nothing offending,
    * Nil, no file touched). Quantization stats persist as table
    * properties on first use — the second call proves the path that
    * reads them back. */
  private def m34(s: SparkSession, dir: String): DataFrame = {
    freshDb(s, "g_m34")
    val part = PartitionSpec.Static(Seq("l_returnflag" -> "string"))
    val tgt = TableRef("g_m34.lineitem_z")
    // corpus thinned 4× on l_partkey (orthogonal to both the okey-quarter
    // append structure and the partition flag): the lifecycle proof is
    // about FILES and the swap, not row volume — at sf10 the full table
    // made this the sweep's most expensive gate (297 s) for no extra
    // evidence
    def quarter(q: Int): DataFrame = t(s, dir, "lineitem")
      .filter(col("l_partkey") % 4 === 1 && col("l_orderkey") % 4 === q)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        col("l_quantity").cast("decimal(18,2)").as("l_quantity"),
        col("l_returnflag"))
    Materializer.table(s, tgt, quarter(0), part)
    (1 to 3).foreach(q => Materializer.incremental(s, tgt,
      quarter(q).filter(col("l_returnflag") =!= "N"),
      IncrementalStrategy.Append, partition = part))
    import graft.exec.Maintenance
    def fileCounts(name: String): DataFrame = {
      import s.implicits._
      Maintenance.partitionFileCounts(s, tgt, part).toSeq
        .map { case (rel, n) => (rel.split("=", 2)(1), n) }
        .toDF("l_returnflag", name)
    }
    // the untouched partition's file inventory (name, length, mtime):
    // byte-stability evidence — a swapped dir would change all three
    def untouchedFiles(): Seq[(String, Long, Long)] = {
      val ident = s.sessionState.sqlParser
        .parseTableIdentifier("g_m34.lineitem_z")
      val meta = s.sessionState.catalog.getTableMetadata(ident)
      val p = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(meta.location), "l_returnflag=N")
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      fs.listStatus(p).toSeq
        .filter(graft.exec.AtomicWriter.isDataFile)
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
        .sortBy(_._1)
    }
    val before = fileCounts("files_before")
    val nBefore = untouchedFiles()
    // m = ⌈nmax/3⌉ over the offending partitions — ≤3 files after, so the
    // compacted state is itself quiet under maxFiles=3 at ANY scale
    // (a |flags|-row bounded aggregate)
    val nmax = s.table(tgt.render).filter(col("l_returnflag") =!= "N")
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1)).max
    val m = (nmax + 2L) / 3L
    val compacted = Maintenance.zorderCompact(s, tgt, part,
      "l_partkey", "l_suppkey", maxFiles = 3, bits = 8,
      maxRecordsPerFile = m, tiebreak = Seq("l_orderkey", "l_linenumber"))
    val after = fileCounts("files_after")
    val untouchedIntact = untouchedFiles() == nBefore
    val quiet = Maintenance.zorderCompact(s, tgt, part,
      "l_partkey", "l_suppkey", maxFiles = 3, bits = 8,
      maxRecordsPerFile = m, tiebreak = Seq("l_orderkey", "l_linenumber"))
    val rows = s.table(tgt.render)
    // measured per-FILE key spans vs the partition's own span — the
    // pruning quality a partition-pruned, key-filtered scan actually sees
    val perFile = rows
      .select(col("l_returnflag"), input_file_name().as("f"),
        col("l_partkey"), col("l_suppkey"))
      .groupBy(col("l_returnflag"), col("f"))
      .agg(min(col("l_partkey")).as("fxlo"), max(col("l_partkey")).as("fxhi"),
        min(col("l_suppkey")).as("fylo"), max(col("l_suppkey")).as("fyhi"))
    val pSpan = rows.groupBy(col("l_returnflag"))
      .agg(min(col("l_partkey")).as("pxlo"), max(col("l_partkey")).as("pxhi"),
        min(col("l_suppkey")).as("pylo"), max(col("l_suppkey")).as("pyhi"))
    val ws = perFile.join(broadcast(pSpan), Seq("l_returnflag"))
      .select(col("l_returnflag"), greatest(
        (col("fxhi") - col("fxlo")).cast("double") /
          greatest(col("pxhi") - col("pxlo"), lit(1L)).cast("double"),
        (col("fyhi") - col("fylo")).cast("double") /
          greatest(col("pyhi") - col("pylo"), lit(1L)).cast("double"))
        .as("r"))
      .groupBy(col("l_returnflag")).agg(max(col("r")).as("after_worst_span"))
    rows.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        sum(col("l_orderkey")).as("sum_okey"))
      .join(broadcast(before), Seq("l_returnflag"))
      .join(broadcast(after), Seq("l_returnflag"))
      .join(broadcast(ws), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("files_before").cast("int"),
        col("files_after").cast("int"), col("n_rows"), col("sum_qty"),
        col("sum_okey"), col("after_worst_span"),
        lit(untouchedIntact).as("untouched_intact"),
        lit(compacted.size).cast("int").as("n_compacted"),
        lit(quiet.isEmpty).as("quiet_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** The after-compact per-file spans are recomputed from PURE ARITHMETIC:
    * within each compacted partition, rows sort by (z, l_orderkey,
    * l_linenumber) — a TOTAL order — and the writer rolls a new file every
    * m rows, so file k holds exactly z-ranks [k·m, (k+1)·m) and DuckDB's
    * chunked window reproduces the measured parquet layout; the untouched
    * partition's single CTAS file spans its partition exactly (ratio 1). */
  private val m34Sql = {
    val terms = (0 until 8).map { i =>
      s"((qx >> $i) & 1) * ${1L << (2 * i + 1)} + ((qy >> $i) & 1) * ${1L << (2 * i)}"
    }.mkString("\n      |        + ")
    s"""WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |        CAST(l_quantity AS DECIMAL(18,2)) AS l_quantity, l_returnflag
       |      FROM lineitem
       |      WHERE l_partkey % 4 = 1
       |        AND (l_returnflag <> 'N' OR l_orderkey % 4 = 0)),
       |s AS (SELECT min(l_partkey) AS xlo, max(l_partkey) AS xhi,
       |        min(l_suppkey) AS ylo, max(l_suppkey) AS yhi FROM li),
       |nm AS (SELECT max(n) AS nmax FROM (
       |        SELECT COUNT(*) AS n FROM li WHERE l_returnflag <> 'N'
       |        GROUP BY l_returnflag)),
       |mm AS (SELECT (nmax + 2) // 3 AS m FROM nm),
       |q AS (SELECT li.*,
       |        least(greatest(((l_partkey - xlo) * 256)
       |          // (xhi - xlo + 1), 0), 255) AS qx,
       |        least(greatest(((l_suppkey - ylo) * 256)
       |          // (yhi - ylo + 1), 0), 255) AS qy
       |      FROM li, s),
       |z AS (SELECT *,
       |        $terms AS z
       |      FROM q),
       |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
       |        ORDER BY z, l_orderkey, l_linenumber) AS rn FROM z),
       |c AS (SELECT l_returnflag, (rn - 1) // (SELECT m FROM mm) AS chunk,
       |        min(l_partkey) AS cxlo, max(l_partkey) AS cxhi,
       |        min(l_suppkey) AS cylo, max(l_suppkey) AS cyhi
       |      FROM r WHERE l_returnflag <> 'N' GROUP BY 1, 2),
       |ps AS (SELECT l_returnflag,
       |        min(l_partkey) AS pxlo, max(l_partkey) AS pxhi,
       |        min(l_suppkey) AS pylo, max(l_suppkey) AS pyhi
       |      FROM li GROUP BY 1),
       |w AS (SELECT c.l_returnflag, max(greatest(
       |        CAST(cxhi - cxlo AS DOUBLE)
       |          / CAST(greatest(pxhi - pxlo, 1) AS DOUBLE),
       |        CAST(cyhi - cylo AS DOUBLE)
       |          / CAST(greatest(pyhi - pylo, 1) AS DOUBLE))) AS ws
       |      FROM c JOIN ps USING (l_returnflag) GROUP BY 1),
       |agg AS (SELECT l_returnflag, COUNT(*) AS n_rows,
       |        CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
       |        CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey
       |      FROM li GROUP BY 1)
       |SELECT agg.l_returnflag,
       |  CAST(CASE WHEN agg.l_returnflag = 'N' THEN 1 ELSE 4 END AS INT)
       |    AS files_before,
       |  CAST(CASE WHEN agg.l_returnflag = 'N' THEN 1
       |    ELSE (n_rows + (SELECT m FROM mm) - 1) // (SELECT m FROM mm)
       |    END AS INT) AS files_after,
       |  n_rows, sum_qty, sum_okey,
       |  CASE WHEN agg.l_returnflag = 'N' THEN CAST(1 AS DOUBLE)
       |    ELSE w.ws END AS after_worst_span,
       |  TRUE AS untouched_intact, CAST(2 AS INT) AS n_compacted,
       |  TRUE AS quiet_ok
       |FROM agg LEFT JOIN w ON agg.l_returnflag = w.l_returnflag
       |ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- export

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m01_table_ctas" -> (m01 _),
    "m02_view" -> (m02 _),
    "m03_incr_merge" -> (m03 _),
    "m04_incr_merge_autopart" -> (m04 _),
    "m05_incr_delete_insert" -> (m05 _),
    "m06_incr_append" -> (m06 _),
    "m07_insert_overwrite_dyn" -> (m07 _),
    "m08_insert_overwrite_static" -> (m08 _),
    "m09_microbatch" -> (m09 _),
    "m10_snapshot_scd2" -> (m10 _),
    "m11_seed_csv" -> (m11 _),
    "m12_raw_set_header" -> (m12 _),
    "m13_clone" -> (m13 _),
    "m14_mview_refresh" -> (m14 _),
    "m15_ephemeral" -> (m15 _),
    "m16_delta_update_delete" -> (m16 _),
    "m17_streaming_microbatch" -> (m17 _),
    "m18_streaming_dedup" -> (m18 _),
    "m19_streaming_store_dedup" -> (m19 _),
    "m20_streaming_neardup" -> (m20 _),
    "m21_streaming_semantic_neardup" -> (m21 _),
    "m22_model_dag" -> (m22 _),
    "m23_compact_recover" -> (m23 _),
    "m24_windowed_stream_agg" -> (m24 _),
    "m25_streaming_sessionize" -> (m25 _),
    "m26_stream_interval_join" -> (m26 _),
    "m27_stream_static_join" -> (m27 _),
    "m28_incremental_rollup" -> (m28 _),
    "m29_streaming_index_ingest" -> (m29 _),
    "m30_streaming_video_dedup" -> (m30 _),
    "m31_streaming_audio_dedup" -> (m31 _),
    "m32_streaming_autorotate" -> (m32 _),
    "m33_index_maintenance" -> (m33 _),
    "m34_zorder_table" -> (m34 _))

  val oracleSql: Map[String, String] = Map(
    "m01_table_ctas" -> m01Sql,
    "m02_view" -> m02Sql,
    "m03_incr_merge" -> m03Sql,
    "m04_incr_merge_autopart" -> m04Sql,
    "m05_incr_delete_insert" -> m05Sql,
    "m06_incr_append" -> m06Sql,
    "m07_insert_overwrite_dyn" -> m07Sql,
    "m08_insert_overwrite_static" -> m08Sql,
    "m09_microbatch" -> m09Sql,
    "m10_snapshot_scd2" -> m10Sql,
    "m11_seed_csv" -> m11Sql,
    "m12_raw_set_header" -> m12Sql,
    "m13_clone" -> m13Sql,
    "m14_mview_refresh" -> m14Sql,
    "m15_ephemeral" -> m15Sql,
    "m16_delta_update_delete" -> m16Sql,
    "m17_streaming_microbatch" -> m17Sql,
    "m18_streaming_dedup" -> m18Sql,
    "m19_streaming_store_dedup" -> m19Sql,
    "m20_streaming_neardup" -> m20Sql,
    "m21_streaming_semantic_neardup" -> m21Sql,
    "m22_model_dag" -> m22Sql,
    "m23_compact_recover" -> m23Sql,
    "m24_windowed_stream_agg" -> m24Sql,
    "m25_streaming_sessionize" -> m25Sql,
    "m26_stream_interval_join" -> m26Sql,
    "m27_stream_static_join" -> m27Sql,
    "m28_incremental_rollup" -> m28Sql,
    "m29_streaming_index_ingest" -> m29Sql,
    "m30_streaming_video_dedup" -> m30Sql,
    "m31_streaming_audio_dedup" -> m31Sql,
    "m32_streaming_autorotate" -> m32Sql,
    "m33_index_maintenance" -> m33Sql,
    "m34_zorder_table" -> m34Sql)
}
