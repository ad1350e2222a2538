package graft

import org.apache.spark.sql.functions._
import graft.catalog.{PartitionSpec, TableRef}
import graft.exec.Incremental
import graft.mat.Materializer
import graft.mat.Materializer.IncrementalStrategy

/** Strategy × partition-flavor matrix, mirroring the reference's
  * tests/functional/maxcompute/test_incremental_partition.py fixture
  * (FIXTURES.md §5): 5 seeded rows p01–p05 plus inserted row (6, Frank, p06);
  * every cell must end with ids 1..6. */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private def seed() = Seq(
    (1L, "Alice", "2024-10-01", "p01"), (2L, "Bob", "2024-10-02", "p02"),
    (3L, "Carol", "2024-10-03", "p03"), (4L, "Dave", "2024-10-04", "p04"),
    (5L, "Eve", "2024-10-05", "p05"))
    .toDF("id", "name", "event_time", "pt")
    .withColumn("event_time", col("event_time").cast("timestamp"))

  private def delta() = Seq(
    (5L, "Eve2", "2024-10-05", "p05"), // update
    (6L, "Frank", "2024-10-06", "p06")) // insert
    .toDF("id", "name", "event_time", "pt")
    .withColumn("event_time", col("event_time").cast("timestamp"))

  private var n = 0
  private def fresh(partition: PartitionSpec): TableRef = {
    n += 1
    val ref = TableRef(s"default.inc_spec_$n")
    Materializer.table(spark,
      ref, graft.exec.AtomicWriter.withPartitionCols(seed(), partition), partition)
    ref
  }

  private def idsAndNames(ref: TableRef): Seq[(Long, String)] =
    spark.table(ref.render).select($"id", $"name").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq

  private val flavors: Seq[(String, PartitionSpec)] = Seq(
    "none" -> PartitionSpec.None,
    "static-pt" -> PartitionSpec.Static(Seq("pt" -> "string")),
    "auto-day" -> PartitionSpec.Auto("event_time", "day"),
    "auto-named-month" -> PartitionSpec.Auto("event_time", "month", Some("pt_month")))

  for ((fname, part) <- flavors) {
    test(s"merge × $fname ⇒ ids 1..6, id 5 updated") {
      val ref = fresh(part)
      Incremental.merge(spark, ref, graft.exec.AtomicWriter.withPartitionCols(delta(), part),
        uniqueKey = Seq("id"), partition = part)
      val got = idsAndNames(ref)
      assert(got.map(_._1) == (1L to 6L))
      assert(got.find(_._1 == 5L).get._2 == "Eve2")
    }

    test(s"delete+insert × $fname ⇒ ids 1..6, id 5 updated") {
      val ref = fresh(part)
      Incremental.deleteInsert(spark, ref,
        graft.exec.AtomicWriter.withPartitionCols(delta(), part),
        uniqueKey = Seq("id"), partition = part)
      val got = idsAndNames(ref)
      assert(got.map(_._1) == (1L to 6L))
      assert(got.find(_._1 == 5L).get._2 == "Eve2")
    }
  }

  test("merge × multi-field key (name, pt)") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = fresh(part)
    val d = Seq((5L, "Eve", "2024-10-05", "p05"), (6L, "Frank", "2024-10-06", "p06"))
      .toDF("id", "name", "event_time", "pt")
      .withColumn("event_time", col("event_time").cast("timestamp"))
    Incremental.merge(spark, ref, d, uniqueKey = Seq("name", "pt"), partition = part)
    assert(idsAndNames(ref).map(_._1) == (1L to 6L))
  }

  test("merge with incremental_predicates on a shared non-key column") {
    // tgt and src share every column name: an unqualified predicate used to
    // raise AMBIGUOUS_REFERENCE; it must resolve against the TARGET.
    val ref = fresh(PartitionSpec.None)
    Incremental.merge(spark, ref, delta(), uniqueKey = Seq("id"),
      predicates = Seq(col("name") =!= "Eve"))
    val got = idsAndNames(ref)
    // target row 5 (Eve) fails the ON predicate ⇒ not matched ⇒ kept as-is,
    // AND the source row (5, Eve2) is not-matched ⇒ inserted (MERGE ON
    // semantics, merge.sql:21-38 — the documented duplicate footgun)
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L, 5L, 6L))
    assert(got.filter(_._1 == 5L).map(_._2).sorted == Seq("Eve", "Eve2"))
  }

  test("delete+insert with incremental_predicates on a shared non-key column") {
    val ref = fresh(PartitionSpec.None)
    Incremental.deleteInsert(spark, ref, delta().filter($"id" === 6),
      uniqueKey = Seq("id"), predicates = Seq(col("name") =!= "Nobody"))
    assert(idsAndNames(ref).map(_._1) == (1L to 6L))
  }

  test("merge predicate that evaluates NULL leaves the target row untouched") {
    val ref = TableRef("default.inc_nullpred")
    Seq((1L, Some(1L), "a"), (2L, None, "b")).toDF("id", "v", "name")
      .write.mode("overwrite").saveAsTable(ref.render)
    val d = Seq((1L, Option(9L), "a9"), (2L, Option(9L), "b9"))
      .toDF("id", "v", "name")
    // predicate v > 0 is NULL for target id=2 ⇒ not matched ⇒ target row
    // kept untouched and the source row inserted (MERGE ON semantics)
    Incremental.merge(spark, ref, d, uniqueKey = Seq("id"),
      predicates = Seq(col("v") > 0))
    val got = spark.table(ref.render).orderBy("id", "name").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(got == Seq((1L, "a9"), (2L, "b"), (2L, "b9")))
  }

  test("merge leaves untouched partitions' files physically unmodified") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = fresh(part)
    def filesOf(p: String): Map[String, Long] = {
      val ident = spark.sessionState.sqlParser
        .parseTableIdentifier(ref.render.replace("`", ""))
      val loc = new java.io.File(new java.net.URI(
        spark.sessionState.catalog.getTableMetadata(ident).location.toString))
      val dir = new java.io.File(loc, s"pt=$p")
      Option(dir.listFiles).getOrElse(Array.empty)
        .filter(_.isFile).map(f => f.getName -> f.lastModified).toMap
    }
    val p02Before = filesOf("p02")
    assert(p02Before.nonEmpty)
    // delta touches p05 (update) and p06 (insert) only
    Incremental.merge(spark, ref, delta(), uniqueKey = Seq("id"),
      partition = part)
    assert(idsAndNames(ref).map(_._1) == (1L to 6L))
    assert(filesOf("p02") == p02Before,
      "untouched partition p02 was rewritten")
  }

  test("partitioned merge and delete+insert of an empty delta leave every file in place") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = fresh(part)
    def files(): Map[String, Long] = {
      val ident = spark.sessionState.sqlParser
        .parseTableIdentifier(ref.render.replace("`", ""))
      val loc = new java.io.File(new java.net.URI(
        spark.sessionState.catalog.getTableMetadata(ident).location.toString))
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(loc).map(f => loc.toPath.relativize(f.toPath).toString -> f.lastModified)
        .toMap
    }
    def partitions(): Seq[String] =
      spark.sql(s"SHOW PARTITIONS ${ref.render}").as[String].collect().sorted.toSeq
    val (filesBefore, partsBefore, rowsBefore) = (files(), partitions(), idsAndNames(ref))
    assert(filesBefore.nonEmpty)
    Incremental.merge(spark, ref, delta().limit(0), uniqueKey = Seq("id"),
      partition = part)
    Incremental.deleteInsert(spark, ref, delta().limit(0), uniqueKey = Seq("id"),
      partition = part)
    assert(files() == filesBefore)
    assert(partitions() == partsBefore)
    assert(idsAndNames(ref) == rowsBefore)
  }

  test("merge update-column subsetting and exclusion") {
    val ref = fresh(PartitionSpec.None)
    val d = Seq((5L, "EveX", "2099-01-01", "pXX"))
      .toDF("id", "name", "event_time", "pt")
      .withColumn("event_time", col("event_time").cast("timestamp"))
    Incremental.merge(spark, ref, d, uniqueKey = Seq("id"),
      updateColumns = Seq("name"))
    val r5 = spark.table(ref.render).filter($"id" === 5).collect().head
    assert(r5.getAs[String]("name") == "EveX")
    assert(r5.getAs[String]("pt") == "p05") // untouched: not in update set
  }

  test("merge updateColumns naming a column the target lacks fails and writes nothing") {
    val ref = fresh(PartitionSpec.None)
    val e = intercept[IllegalArgumentException] {
      Incremental.merge(spark, ref, delta(), uniqueKey = Seq("id"),
        updateColumns = Seq("name", "nope"))
    }
    assert(e.getMessage.contains("nope"), e.getMessage)
    assert(idsAndNames(ref) == seed().select($"id", $"name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq)
  }

  test("merge with no unique key degrades to append (ref merge.sql:52-58)") {
    val ref = fresh(PartitionSpec.None)
    Incremental.merge(spark, ref, delta(), uniqueKey = Nil)
    assert(spark.table(ref.render).count() == 7) // 5 + 2, id 5 duplicated
  }

  test("append + unique_key is rejected (ref incremental.sql:36-38)") {
    val ref = fresh(PartitionSpec.None)
    intercept[IllegalArgumentException] {
      Materializer.incremental(spark, ref, delta(),
        IncrementalStrategy.Append, uniqueKey = Seq("id"))
    }
  }

  test("insert_overwrite requires partition_by (ref insert_overwrite.sql:4-9)") {
    val ref = fresh(PartitionSpec.None)
    intercept[IllegalArgumentException] {
      Incremental.insertOverwriteDynamic(spark, ref, delta(), PartitionSpec.None)
    }
  }

  test("dynamic insert_overwrite replaces only source partitions") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = fresh(part)
    val d = Seq((50L, "New5", "2024-10-05", "p05")).toDF("id", "name", "event_time", "pt")
      .withColumn("event_time", col("event_time").cast("timestamp"))
    Incremental.insertOverwriteDynamic(spark, ref, d, part)
    val got = idsAndNames(ref)
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L, 50L)) // p05 replaced, rest intact
  }

  test("dynamic insert_overwrite with multi-column partitions (ref test_insert_overwrite_multi_partition.py)") {
    val part = PartitionSpec.Static(Seq("k1" -> "string", "k2" -> "string"))
    val ref = TableRef("default.inc_multi_part")
    val seed0 = Seq((1L, "a", "p1", "q1"), (2L, "b", "p1", "q2"),
      (3L, "c", "p2", "q1")).toDF("id", "v", "k1", "k2")
    Materializer.table(spark, ref, seed0, part)
    // second run with a new (k1,k2) partition: only partitions present in
    // the source are replaced, existing ones are preserved
    val src = seed0.unionByName(
      Seq((4L, "d", "p3", "q1")).toDF("id", "v", "k1", "k2"))
    Incremental.insertOverwriteDynamic(spark, ref, src, part)
    assert(spark.table(ref.render).select("id").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // a third run whose source holds ONLY the new partition must leave the
    // other (k1,k2) partitions untouched
    Incremental.insertOverwriteDynamic(spark, ref,
      Seq((5L, "e", "p3", "q1")).toDF("id", "v", "k1", "k2"), part)
    assert(spark.table(ref.render).select("id").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(1L, 2L, 3L, 5L))
  }

  test("static insert_overwrite empties listed partitions absent from source") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = fresh(part)
    val d = Seq((50L, "New5", "2024-10-05", "p05")).toDF("id", "name", "event_time", "pt")
      .withColumn("event_time", col("event_time").cast("timestamp"))
    Incremental.insertOverwriteStatic(spark, ref, d, part, Seq("p04", "p05"))
    val got = idsAndNames(ref)
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 50L)) // p04 emptied, p05 replaced
  }

  test("idempotent re-run of dynamic insert_overwrite") {
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    val ref = fresh(part)
    val d = delta()
    Incremental.insertOverwriteDynamic(spark, ref, d, part)
    val first = idsAndNames(ref)
    Incremental.insertOverwriteDynamic(spark, ref, d, part)
    assert(idsAndNames(ref) == first)
  }
}
