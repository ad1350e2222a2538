package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.HllAgg

/** [[HllAgg]] is `approx_count_distinct` with its registers in one buffer
  * object: every estimate must be bit-identical to the built-in's, for
  * every input type, every rsd, across partial-aggregate merges. */
class HllAggSpec extends SparkSpec {
  import spark.implicits._

  private val types = Seq("int", "bigint", "double", "string", "date",
    "timestamp", "decimal(12,2)")

  /** 20k rows over 6 partitions (partial buffers merge across an
    * exchange), ~4.7k distinct keys, a NULL every 97th row; the double
    * column also carries -0.0, 0.0 and NaN. */
  private lazy val typed: DataFrame = {
    val k = $"id" % 4733
    spark.range(0, 20000, 1, 6)
      .withColumn("k", when($"id" % 97 === 0, lit(null)).otherwise(k))
      .select(($"id" % 5 === 0).as("g"),
        $"k".cast("int").as("int"),
        $"k".as("bigint"),
        when($"id" % 1000 === 1, lit(-0.0)).when($"id" % 1000 === 2, lit(0.0))
          .when($"id" % 1000 === 3, lit(Double.NaN))
          .otherwise($"k".cast("double") / 7).as("double"),
        concat(lit("key-"), $"k").as("string"),
        date_add(lit("2020-01-01").cast("date"), $"k".cast("int")).as("date"),
        timestamp_seconds($"k" * 3601).as("timestamp"),
        $"k".cast("decimal(12,2)").as("decimal(12,2)"))
      .repartition(6)
  }

  for (rsd <- Seq(0.01, 0.02, 0.05)) {
    test(s"bit-identical to approx_count_distinct on every type (rsd $rsd)") {
      val r = typed.agg(
        struct(types.map(t => HllAgg(col(t), rsd).as(t)): _*).as("mine"),
        struct(types.map(t => approx_count_distinct(col(t), rsd).as(t)): _*)
          .as("builtin")).head()
      val mine = r.getStruct(0); val builtin = r.getStruct(1)
      types.indices.foreach { i =>
        assert(mine.getLong(i) == builtin.getLong(i),
          s"${types(i)}: hll_agg ${mine.getLong(i)} vs built-in ${builtin.getLong(i)}")
      }
    }
  }

  test("grouped: per-group estimates match, an all-NULL group reads 0") {
    val df = typed.withColumn("string",
      when(col("g"), lit(null).cast("string")).otherwise(col("string")))
    def byGroup(f: String => org.apache.spark.sql.Column) =
      df.groupBy("g").agg(f("string").as("s"), f("bigint").as("b"))
        .as[(Boolean, Long, Long)].collect().sortBy(_._1).toSeq
    val mine = byGroup(c => HllAgg(col(c), 0.02))
    assert(mine == byGroup(c => approx_count_distinct(col(c), 0.02)))
    assert(mine.find(_._1).get._2 == 0L, "all-NULL group must read 0")
    assert(mine.forall(_._3 > 0L))
  }

  test("empty input reads 0, like the built-in") {
    val empty = typed.filter(lit(false))
    val r = empty.agg(HllAgg(col("bigint"), 0.02),
      approx_count_distinct(col("bigint"), 0.02)).head()
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L)
  }
}
