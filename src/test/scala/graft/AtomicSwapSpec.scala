package graft

import org.apache.spark.sql.functions._
import graft.catalog.{PartitionSpec, TableRef}
import graft.exec.{AtomicWriter, Maintenance}
import graft.mat.Materializer
import graft.mat.Materializer.IncrementalStrategy

/** Lifecycle hygiene of the staged-swap machinery: no leaked helper
  * relations (the reference's 1.11.1 `__dbt_tmp` regression,
  * CHANGELOG f708822 / test_incremental_temp_cleanup.py), and recovery
  * from leftovers of a crashed previous run. */
class AtomicSwapSpec extends SparkSpec {
  import spark.implicits._

  private def tables(): Set[String] =
    spark.catalog.listTables("default").collect().map(_.name).toSet

  test("incremental run that reads the target drops its __dbt_tmp staging") {
    val ref = TableRef("default.swap_tmpclean")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").saveAsTable(ref.render)
    // model reads {{ this }} → the tmp-staging path is exercised
    val src = spark.table(ref.render)
      .select($"id" + 10 as "id", upper($"v") as "v")
    Materializer.incremental(spark, ref, src,
      IncrementalStrategy.Merge(), uniqueKey = Seq("id"))
    assert(spark.table(ref.render).count() == 4)
    val leaked = tables().filter(t => t.contains("dbt_tmp") ||
      t.contains("graft_stg") || t.contains("graft_old"))
    assert(leaked.isEmpty, s"leaked helper relations: $leaked")
  }

  test("overwriteTable recovers when a crashed run left stg and old tables") {
    val ref = TableRef("default.swap_recover")
    Seq((1L, "keep")).toDF("id", "v")
      .write.mode("overwrite").saveAsTable(ref.render)
    // simulate a previous run that died mid-swap
    Seq((99L, "stale_stg")).toDF("id", "v")
      .write.mode("overwrite").saveAsTable("default.swap_recover__graft_stg")
    Seq((98L, "stale_old")).toDF("id", "v")
      .write.mode("overwrite").saveAsTable("default.swap_recover__graft_old")
    AtomicWriter.overwriteTable(spark,
      spark.table(ref.render).withColumn("v", lit("new")), ref)
    val got = spark.table(ref.render).as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "new")))
    // helper names are stamped now, so the legacy-named stale tables are
    // not silently replaced by the live swap — recover sweeps them
    Maintenance.recover(spark, ref)
    val leftover = tables().filter(_.startsWith("swap_recover__"))
    assert(leftover.isEmpty, s"stale helpers survived: $leftover")
    assert(spark.table(ref.render).as[(Long, String)].collect().toSeq
      == Seq((1L, "new")))
  }

  test("partitioned overwrite recovers from a stale staging table") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = TableRef("default.swap_recover_part")
    Materializer.table(spark, ref,
      Seq((1L, "p1"), (2L, "p2")).toDF("id", "pt"), part)
    Seq((99L, "px")).toDF("id", "pt").write.mode("overwrite")
      .partitionBy("pt").saveAsTable("default.swap_recover_part__graft_stg")
    // staging names are stamped, so the stale leftover cannot collide with
    // (or be silently replaced by) the live swap — it waits for recover
    AtomicWriter.overwritePartitions(spark,
      Seq((10L, "p1")).toDF("id", "pt"), ref, part)
    val got = spark.table(ref.render).select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 10L))
    // untouched partition p2 intact, no px contamination
    assert(spark.table(ref.render).filter($"pt" === "px").count() == 0)
    val actions = Maintenance.recover(spark, ref)
    assert(actions.exists(_.contains("swap_recover_part__graft_stg")))
    assert(!tables().exists(_.startsWith("swap_recover_part__graft_stg")))
  }

  // ------------------------------------------------------ partition swap

  test("[rename] partition overwrite replaces only source partitions") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = TableRef("default.swap_c")
    Materializer.table(spark, ref,
      Seq((1L, "p1"), (2L, "p2"), (3L, "p3")).toDF("id", "pt"), part)
    AtomicWriter.overwritePartitions(spark,
      Seq((10L, "p1"), (30L, "p3")).toDF("id", "pt"), ref, part)
    val got = spark.table(ref.render).select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(2L, 10L, 30L))
    // second overwrite of the same partition (exercises replace path)
    AtomicWriter.overwritePartitions(spark,
      Seq((11L, "p1")).toDF("id", "pt"), ref, part)
    assert(spark.table(ref.render).select("id").as[Long].collect().sorted
      .toSeq == Seq(2L, 11L, 30L))
    assert(!tables().exists(_.contains("graft_stg")))
  }

  test("[rename] touched-but-empty partitions are dropped") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = TableRef("default.swap_e")
    Materializer.table(spark, ref,
      Seq((1L, "p1"), (2L, "p2")).toDF("id", "pt"), part)
    graft.exec.Mutations.delete(spark, ref, $"pt" === "p1", part)
    assert(spark.table(ref.render).select("id").as[Long].collect().toSeq
      == Seq(2L))
    val parts = spark.sql(s"SHOW PARTITIONS ${ref.render}")
      .collect().map(_.getString(0))
    assert(!parts.exists(_.contains("p1")), parts.mkString(","))
  }

  test("recover drops an orphan partition dir a killed swap left unregistered") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = TableRef("default.swap_orphan")
    Materializer.table(spark, ref,
      Seq((1L, "p1"), (2L, "p2")).toDF("id", "pt"), part)
    val root = new java.io.File(new java.net.URI(
      spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(
          "default.swap_orphan")).location.toString))
    // simulate a swap killed after a NEW partition's dir moved in, before
    // its ALTER TABLE … ADD PARTITION: data files, no registration
    val orphan = new java.io.File(root, "pt=px")
    Seq(99L).toDF("id").coalesce(1).write.parquet(orphan.toString)
    assert(orphan.listFiles().exists(_.getName.endsWith(".parquet")))
    def rows() = spark.table(ref.render).as[(Long, String)].collect().sorted.toSeq
    val before = rows()
    assert(before == Seq((1L, "p1"), (2L, "p2")))
    val actions = Maintenance.recover(spark, ref)
    assert(actions.contains("dropped orphan partition dir pt=px"), actions)
    assert(!orphan.exists())
    spark.sql(s"REFRESH TABLE ${ref.render}")
    assert(rows() == before)
    // a following compaction rewrites the live partitions only
    Maintenance.compact(spark, ref, part, maxFiles = 0)
    val parts = spark.sql(s"SHOW PARTITIONS ${ref.render}")
      .collect().map(_.getString(0)).sorted
    assert(parts.toSeq == Seq("pt=p1", "pt=p2"), parts.mkString(","))
    assert(rows() == before)
  }

  test("recover restores a partition stranded in .graft_trash") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = TableRef("default.swap_trash")
    Materializer.table(spark, ref,
      Seq((1L, "p1"), (2L, "p2")).toDF("id", "pt"), part)
    val root = new java.io.File(new java.net.URI(
      spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(
          "default.swap_trash")).location.toString))
    // simulate a crashed swap: p1's live dir moved to trash, replacement
    // never arrived
    val live = new java.io.File(root, "pt=p1")
    val trash = new java.io.File(root, ".graft_trash/pt=p1")
    assert(trash.getParentFile.mkdirs())
    assert(live.renameTo(trash))
    assert(spark.table(ref.render).filter($"pt" === "p1").count() == 0 ||
      true) // listing may be cached; recover must fix it regardless
    val actions = graft.exec.Maintenance.recover(spark, ref)
    assert(actions.exists(_.contains("restored partition pt=p1")), actions)
    spark.sql(s"REFRESH TABLE ${ref.render}")
    assert(spark.table(ref.render).select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L))
  }

  test("bucketed table replacement keeps the bucket spec through the staged swap") {
    val ref = TableRef("default.swap_bucketed")
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    Materializer.table(spark, ref, df, bucketBy = Some((4, Seq("id"))))
    // replacement takes the rename-swap path now, not DROP+CTAS
    Materializer.table(spark, ref, df.withColumn("v", upper($"v")),
      bucketBy = Some((4, Seq("id"))))
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("default.swap_bucketed"))
    assert(meta.bucketSpec.isDefined, "bucket spec lost in swap")
    assert(meta.bucketSpec.get.numBuckets == 4)
    assert(meta.bucketSpec.get.bucketColumnNames == Seq("id"))
    val got = spark.table(ref.render).as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "A"), (2L, "B"), (3L, "C")))
    // bucketed scan still works (exchange-free group-by on bucket col)
    assert(spark.table(ref.render).groupBy("id").count().count() == 3)
  }

  test("recover restores the target table from __graft_old after a crashed rename") {
    val ref = TableRef("default.swap_oldrestore")
    Seq((7L, "keep")).toDF("id", "v").write.mode("overwrite")
      .saveAsTable("default.swap_oldrestore__graft_old")
    spark.sql("DROP TABLE IF EXISTS default.swap_oldrestore")
    val actions = graft.exec.Maintenance.recover(spark, ref)
    assert(actions.exists(_.startsWith("restored")), actions)
    assert(spark.table(ref.render).as[(Long, String)].collect().toSeq
      == Seq((7L, "keep")))
  }

  test("whole-table replace of a PARTITIONED table re-registers partitions") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = TableRef("default.swap_tablep")
    Materializer.table(spark, ref,
      Seq((1L, "p1"), (2L, "p2")).toDF("id", "pt"), part)
    AtomicWriter.overwriteTable(spark,
      Seq((10L, "p1"), (30L, "p3")).toDF("id", "pt"), ref, part)
    val got = spark.table(ref.render).select("id", "pt").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((10L, "p1"), (30L, "p3")))
    val parts = spark.sql(s"SHOW PARTITIONS ${ref.render}")
      .collect().map(_.getString(0)).sorted
    assert(parts.toSeq == Seq("pt=p1", "pt=p3"), parts.mkString(","))
    // a partition-level commit after the whole-table swap
    AtomicWriter.overwritePartitions(spark,
      Seq((11L, "p1")).toDF("id", "pt"), ref, part)
    assert(spark.table(ref.render).select("id").as[Long].collect().sorted
      .toSeq == Seq(11L, 30L))
  }

  test("overwriteTable onto a view rolls back its staged copy") {
    val ref = TableRef("default.swap_view")
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite")
      .saveAsTable("default.swap_view_src")
    spark.sql(s"CREATE OR REPLACE VIEW ${ref.render} AS " +
      "SELECT * FROM default.swap_view_src")
    // the staged write succeeds; `ALTER TABLE <view> RENAME` then fails
    intercept[org.apache.spark.sql.AnalysisException] {
      AtomicWriter.overwriteTable(spark, Seq((2L, "b")).toDF("id", "v"), ref)
    }
    val leaked = tables().filter(t => t.startsWith("swap_view__graft_stg_") ||
      t.startsWith("swap_view__graft_old_"))
    assert(leaked.isEmpty, s"leaked swap helpers: $leaked")
    assert(spark.table(ref.render).as[(Long, String)].collect().toSeq
      == Seq((1L, "a")))
  }

  test("schema-changing rebuild falls back to table recreation") {
    val ref = TableRef("default.swap_schema")
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite")
      .saveAsTable(ref.render)
    AtomicWriter.overwriteTable(spark,
      Seq((1L, "a", 9L)).toDF("id", "v", "extra"), ref)
    val got = spark.table(ref.render)
    assert(got.columns.toSeq == Seq("id", "v", "extra"))
    assert(got.as[(Long, String, Long)].collect().toSeq == Seq((1L, "a", 9L)))
  }

  test("table() rebuild starts from a clean property slate") {
    val ref = TableRef("default.swap_props")
    Materializer.table(spark, ref, Seq((1L, "a")).toDF("id", "v"),
      lifecycleDays = Some(30))
    // rebuild WITHOUT lifecycleDays: the stale property must not survive
    Materializer.table(spark, ref, Seq((1L, "a")).toDF("id", "v"))
    val props = spark.sql(s"SHOW TBLPROPERTIES ${ref.render}").collect()
      .map(_.getString(0))
    assert(!props.contains("graft.lifecycle.days"), props.mkString(","))
  }
}
