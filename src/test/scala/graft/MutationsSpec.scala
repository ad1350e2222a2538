package graft

import org.apache.spark.sql.functions._
import graft.catalog.{PartitionSpec, TableRef}
import graft.exec.Mutations
import graft.mat.Materializer

/** Transactional-table DELETE/UPDATE/TRUNCATE (ref test_core.py:1128-1140). */
class MutationsSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def fresh(part: PartitionSpec): TableRef = {
    n += 1
    val ref = TableRef(s"default.mut_spec_$n")
    val df = Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"), (4L, "d", "p2"))
      .toDF("id", "v", "pt")
    Materializer.table(spark, ref, df, part,
      tblProperties = Map("transactional" -> "true"))
    ref
  }

  test("delete on unpartitioned table") {
    val ref = fresh(PartitionSpec.None)
    Mutations.delete(spark, ref, $"id" === 2)
    assert(spark.table(ref.render).select("id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 3L, 4L))
  }

  test("delete keeps rows where the predicate is NULL (3VL)") {
    val ref = TableRef("default.mut_null_pred")
    Seq((1L, Some(10L)), (2L, None), (3L, Some(3L)))
      .toDF("id", "v")
      .write.mode("overwrite").saveAsTable(ref.render)
    // DELETE WHERE v > 5: row 1 goes; row 2 (v NULL ⇒ predicate NULL) stays
    Mutations.delete(spark, ref, $"v" > 5)
    assert(spark.table(ref.render).select("id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(2L, 3L))
  }

  test("partitioned delete keeps NULL-predicate rows in touched partitions") {
    val ref = TableRef("default.mut_null_pred_part")
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    Materializer.table(spark, ref,
      Seq((1L, Some(10L), "p1"), (2L, None, "p1"), (3L, Some(3L), "p2"))
        .toDF("id", "v", "pt"), part)
    Mutations.delete(spark, ref, $"v" > 5, part)
    assert(spark.table(ref.render).select("id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(2L, 3L))
  }

  test("delete on partitioned table rewrites only touched partitions") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = fresh(part)
    val p2Before = graft.catalog.CatalogOps.lastModified(spark, ref)
    Mutations.delete(spark, ref, $"id" === 1, part)
    assert(spark.table(ref.render).count() == 3)
    assert(spark.table(ref.render).filter($"pt" === "p2").count() == 2)
  }

  test("delete that empties a whole partition drops it (rows AND files)") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = fresh(part)
    // delete EVERY row of p1 (ids 1,2)
    Mutations.delete(spark, ref, $"pt" === "p1", part)
    assert(spark.table(ref.render).select("id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(3L, 4L), "p1 rows must be gone")
    // partition is deregistered and its directory removed
    val parts = spark.sql(s"SHOW PARTITIONS ${ref.render}")
      .collect().map(_.getString(0)).toSeq
    assert(!parts.exists(_.contains("pt=p1")), s"p1 still registered: $parts")
    val ident = spark.sessionState.sqlParser
      .parseTableIdentifier(ref.render.replace("`", ""))
    val loc = new java.io.File(new java.net.URI(
      spark.sessionState.catalog.getTableMetadata(ident).location.toString))
    assert(!new java.io.File(loc, "pt=p1").exists, "p1 files left behind")
  }

  test("update with assignment; partition columns protected") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = fresh(part)
    Mutations.update(spark, ref, Map("v" -> lit("Z")), $"id" === 3, part)
    val got = spark.table(ref.render).orderBy($"id").collect()
    assert(got.map(_.getString(1)).toSeq == Seq("a", "b", "Z", "d"))
    intercept[IllegalArgumentException] {
      Mutations.update(spark, ref, Map("pt" -> lit("p9")), $"id" === 3, part)
    }
  }

  test("partitioned update rewrites only the touched partition and keeps every partition") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = fresh(part)
    def filesOf(p: String): Map[String, Long] = {
      val ident = spark.sessionState.sqlParser
        .parseTableIdentifier(ref.render.replace("`", ""))
      val loc = new java.io.File(new java.net.URI(
        spark.sessionState.catalog.getTableMetadata(ident).location.toString))
      Option(new java.io.File(loc, s"pt=$p").listFiles).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toMap
    }
    val p1Before = filesOf("p1")
    Mutations.update(spark, ref, Map("v" -> lit("Z")), $"id" === 3, part)
    assert(filesOf("p1") == p1Before, "untouched partition p1 was rewritten")
    assert(filesOf("p2").size == 1)
    assert(spark.sql(s"SHOW PARTITIONS ${ref.render}").as[String].collect().sorted
      .toSeq == Seq("pt=p1", "pt=p2"))
    assert(spark.table(ref.render).orderBy($"id").collect()
      .map(_.getString(1)).toSeq == Seq("a", "b", "Z", "d"))
  }

  test("update naming a column the target lacks fails and writes nothing") {
    val ref = fresh(PartitionSpec.None)
    val e = intercept[IllegalArgumentException] {
      Mutations.update(spark, ref, Map("v" -> lit("Z"), "nope" -> lit("x")),
        $"id" === 3)
    }
    assert(e.getMessage.contains("nope"), e.getMessage)
    assert(spark.table(ref.render).orderBy($"id").collect()
      .map(_.getString(1)).toSeq == Seq("a", "b", "c", "d"))
  }

  test("delete with no matching rows is a no-op") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = fresh(part)
    Mutations.delete(spark, ref, $"id" === 99, part)
    assert(spark.table(ref.render).count() == 4)
  }

  test("truncate empties the table") {
    val ref = fresh(PartitionSpec.None)
    Mutations.truncate(spark, ref)
    assert(spark.table(ref.render).count() == 0)
  }

  test("deleteKeys on unpartitioned table: frame-keyed, duplicate keys OK") {
    val ref = fresh(PartitionSpec.None)
    // key frame with duplicates — anti join dedups, no row multiplication
    val keys = Seq(2L, 2L, 4L, 99L).toDF("id")
    Mutations.deleteKeys(spark, ref, keys, Seq("id"))
    assert(spark.table(ref.render).select("id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 3L))
  }

  test("deleteKeys on partitioned table rewrites only touched partitions") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = fresh(part)
    Mutations.deleteKeys(spark, ref, Seq(1L).toDF("id"), Seq("id"), part)
    assert(spark.table(ref.render).select("id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(2L, 3L, 4L))
    // untouched p2 partition still registered with both rows
    assert(spark.table(ref.render).filter($"pt" === "p2").count() == 2)
  }

  test("deleteKeys is null-safe: a NULL key component deletes NULL rows") {
    val ref = TableRef("default.mut_delkeys_null")
    Seq((Some(1L), "a"), (None, "b"), (Some(3L), "c"))
      .toDF("id", "v")
      .write.mode("overwrite").saveAsTable(ref.render)
    Mutations.deleteKeys(spark, ref,
      Seq[Option[Long]](None, Some(3L)).toDF("id"), Seq("id"))
    assert(spark.table(ref.render).select("v").collect().map(_.getString(0))
      .toSeq == Seq("a"))
  }

  test("deleteKeys multi-column key matches on the full tuple") {
    val ref = TableRef("default.mut_delkeys_multi")
    Seq((1L, "x", 10), (1L, "y", 20), (2L, "x", 30))
      .toDF("k1", "k2", "v")
      .write.mode("overwrite").saveAsTable(ref.render)
    Mutations.deleteKeys(spark, ref, Seq((1L, "x")).toDF("k1", "k2"),
      Seq("k1", "k2"))
    assert(spark.table(ref.render).select("v").collect().map(_.getInt(0)).sorted
      .toSeq == Seq(20, 30))
  }

  test("UPDATE/DELETE on a bucketed table preserve the bucket spec") {
    import graft.catalog.TableRef
    val ref = TableRef("default.mut_bucketed")
    graft.mat.Materializer.table(spark, ref,
      Seq((1L, 10.0), (2L, 20.0), (14L, 30.0)).toDF("id", "bal"),
      bucketBy = Some((8, Seq("id"))))
    Mutations.update(spark, ref, Map("bal" -> (col("bal") + 1)), col("id") % 7 === 0)
    Mutations.delete(spark, ref, col("id") === 2L)
    val meta = spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier("default.mut_bucketed"))
    assert(meta.bucketSpec.exists(b => b.numBuckets == 8 &&
      b.bucketColumnNames == Seq("id")),
      s"bucket spec lost by mutation rewrite: ${meta.bucketSpec}")
    val got = spark.table(ref.render).as[(Long, Double)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 10.0), (14L, 31.0)))
  }
}
