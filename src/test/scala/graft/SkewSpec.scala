package graft

import org.apache.spark.sql.functions._
import graft.exec.Skew

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("salted join returns identical results to the plain join") {
    val big = (1 to 10000).map(i => (if (i % 2 == 0) 1L else i.toLong, s"v$i"))
      .toDF("k", "v") // heavy skew on k=1
    val small = Seq((1L, "one"), (3L, "three"), (5L, "five")).toDF("k", "name")
    val plain = big.join(small, Seq("k")).orderBy($"v").collect().toSeq
    val salted = Skew.saltedJoin(big, small, Seq("k")).orderBy($"v").collect().toSeq
    assert(salted == plain)
    assert(salted.nonEmpty)
  }

  test("right/full outer joins are rejected (would duplicate unmatched small rows)") {
    val big = Seq((1L, "a")).toDF("k", "v")
    val small = Seq((1L, "one"), (9L, "nine")).toDF("k", "name")
    for (jt <- Seq("right", "right_outer", "full", "full_outer", "outer"))
      intercept[IllegalArgumentException] {
        Skew.saltedJoin(big, small, Seq("k"), jt)
      }
    // semi/anti stay allowed and exact
    val anti = Skew.saltedJoin(big, small, Seq("k"), "left_anti").collect()
    assert(anti.isEmpty)
    val semi = Skew.saltedJoin(big, small, Seq("k"), "left_semi").collect()
    assert(semi.map(_.getString(1)).toSeq == Seq("a"))
  }

  test("salted left join preserves unmatched rows exactly once") {
    val big = Seq((1L, "a"), (2L, "b"), (2L, "b2")).toDF("k", "v")
    val small = Seq((1L, "one")).toDF("k", "name")
    val got = Skew.saltedJoin(big, small, Seq("k"), "left")
      .orderBy($"v").collect().map(_.toSeq).toSeq
    assert(got.length == 3)
    assert(got.count(_.last == null) == 2)
  }

  test("touched-partition sets past the cap fall back to whole-table rewrite") {
    import graft.catalog.{PartitionSpec, TableRef}
    import graft.exec.{Incremental, Mutations}
    import graft.mat.Materializer
    // at 10^4+ touched partitions the isin in-list and the driver-side set
    // both blow up; past spark.graft.touchedPartitions.cap the strategies
    // must rewrite the whole table instead. Exercised with a tiny cap.
    spark.conf.set("spark.graft.touchedPartitions.cap", "3")
    try {
      val part = PartitionSpec.Static(Seq("pt" -> "string"))
      val ref = TableRef("default.skew_capfall")
      val base = (1 to 8).map(i => (i.toLong, s"v$i", s"p$i")).toDF("id", "v", "pt")
      Materializer.table(spark, ref, base, part)
      // merge touches 5 partitions > cap=3 -> whole-table path
      val delta = (1 to 5).map(i => (i.toLong, s"NEW$i", s"p$i")).toDF("id", "v", "pt")
      Incremental.merge(spark, ref, delta, uniqueKey = Seq("id"), partition = part)
      val got = spark.table(ref.render).select("id", "v").as[(Long, String)]
        .collect().sortBy(_._1).toSeq
      assert(got == ((1 to 5).map(i => (i.toLong, s"NEW$i")) ++
        (6 to 8).map(i => (i.toLong, s"v$i"))))
      // table stays partitioned after the fallback rewrite
      val meta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier("default.skew_capfall"))
      assert(meta.partitionColumnNames == Seq("pt"))
      // UPDATE past the cap: same fallback, same correctness
      Mutations.update(spark, ref, Map("v" -> upper($"v")), $"id" <= 5, part)
      val got2 = spark.table(ref.render).select("id", "v").as[(Long, String)]
        .collect().sortBy(_._1).toSeq
      assert(got2.take(5) == (1 to 5).map(i => (i.toLong, s"NEW$i")))
      // DELETE past the cap empties partitions via the whole-table path
      Mutations.delete(spark, ref, $"id" <= 4, part)
      assert(spark.table(ref.render).count() == 4)
      // the whole-table path rewrites even partitions the operation does
      // not touch: p8's file names change only on the fallback
      def filesOf(p: String): Set[String] = {
        val ident = spark.sessionState.sqlParser
          .parseTableIdentifier("default.skew_capfall")
        val loc = new java.io.File(new java.net.URI(
          spark.sessionState.catalog.getTableMetadata(ident).location.toString))
        Option(new java.io.File(loc, s"pt=$p").listFiles).getOrElse(Array.empty)
          .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
      }
      // delete+insert re-inserting ids 1..4 touches 4 partitions > cap=3
      val p8Before = filesOf("p8")
      assert(p8Before.nonEmpty)
      val back = (1 to 4).map(i => (i.toLong, s"B$i", s"p$i")).toDF("id", "v", "pt")
      Incremental.deleteInsert(spark, ref, back, uniqueKey = Seq("id"), partition = part)
      val got3 = spark.table(ref.render).select("id", "v").as[(Long, String)]
        .collect().sortBy(_._1).toSeq
      assert(got3 == (1 to 4).map(i => (i.toLong, s"B$i")) ++ got2.drop(4))
      assert(filesOf("p8") != p8Before, "delete+insert past the cap stayed scoped")
      // deleteKeys of ids 1..4 touches 4 partitions > cap=3; the emptied
      // partitions disappear with the whole-table rewrite
      val p8Mid = filesOf("p8")
      Mutations.deleteKeys(spark, ref, (1 to 4).map(_.toLong).toDF("id"),
        Seq("id"), part)
      assert(spark.table(ref.render).select("id").as[Long].collect().sorted.toSeq ==
        (5 to 8).map(_.toLong))
      assert(spark.sql("SHOW PARTITIONS default.skew_capfall").as[String]
        .collect().sorted.toSeq == (5 to 8).map(i => s"pt=p$i"))
      assert(filesOf("p8") != p8Mid, "deleteKeys past the cap stayed scoped")
    } finally spark.conf.unset("spark.graft.touchedPartitions.cap")
  }
}
