package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bench over Verify's shared suite loop: what a run reports when a query
  * throws, and which runs write the full-suite artifact. */
class BenchSpec extends SparkSpec {

  test("a query that throws is listed as failed, never timed") {
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "a01_ok" -> ((s, _) => s.range(10).toDF("id")),
      "b01_boom" -> ((s, _) => s.range(10).selectExpr("raise_error('boom') AS x")))
    val r = Bench.run(spark, "unused", queries)
    assert(r.seconds.map(_._1) == Seq("a01_ok"))
    assert(r.failed == Seq("b01_boom"))
    assert(r.total == r.seconds.head._2)
    for (line <- Seq(Bench.fullLine(r, "/data/sf0.1"),
        Bench.compactLine(r, "/data/sf0.1"))) {
      assert(line.contains(""""failed":["b01_boom"]"""), line)
      assert(!line.contains(""""b01_boom":"""), line)
      assert(line.contains(""""a01_ok":"""), line)
    }
  }

  test("only a full-suite run writes BENCH_FULL_latest.json; a subset leaves it alone") {
    assert(Bench.artifactPath(None) == Some("BENCH_FULL_latest.json"))
    assert(Bench.artifactPath(Some(Set("s05_cosine_topk_ivf"))).isEmpty)
  }
}
