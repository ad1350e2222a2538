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

  test("the full line carries every timed query's compile count; the compact line none") {
    // a constant no other plan in this JVM holds: its class is compiled here
    val k = System.nanoTime()
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "a01_new" -> ((s, _) => s.range(10).selectExpr(s"id * $k AS x")),
      "b01_boom" -> ((s, _) => s.range(10).selectExpr("raise_error('boom') AS x")),
      "c01_ok" -> ((s, _) => s.range(10).toDF("id")))
    val r = Bench.run(spark, "unused", queries)
    assert(r.compiles.map(_._1) == r.seconds.map(_._1))
    assert(r.compiles.head._2 >= 1, r.compiles)
    val counts = r.compiles.map { case (n, c) => s""""$n":$c""" }.mkString(",")
    assert(Bench.fullLine(r, "/data/sf0.1").contains(s""""compiles":{$counts}"""))
    assert(!Bench.compactLine(r, "/data/sf0.1").contains("compiles"))
  }

  test("only a full-suite run writes BENCH_FULL_latest.json; a subset leaves it alone") {
    assert(Bench.artifactPath(None) == Some("BENCH_FULL_latest.json"))
    assert(Bench.artifactPath(Some(Set("s05_cosine_topk_ivf"))).isEmpty)
  }

  test("the run harness: src/main defines exactly five mains") {
    // Verify and Bench run the suite; GateCheck re-proves the in-query
    // gates at scale; ConfAbProbe times session-conf A/Bs through
    // Bench.run; AmplifyTestdata builds the sf1/sf10 inputs. A new
    // measurement belongs in one of them, not in another main.
    val root = java.nio.file.Paths.get("src/main")
    val files = java.nio.file.Files.walk(root).iterator()
    val mains = scala.collection.mutable.ListBuffer[String]()
    while (files.hasNext) {
      val f = files.next()
      if (f.toString.endsWith(".scala")) {
        val lines = java.nio.file.Files.readAllLines(f).toArray.map(_.toString.trim)
        if (lines.exists { code =>
          val comment = code.startsWith("*") || code.startsWith("/*") ||
            code.startsWith("//")
          !comment && (code.contains("def main(") || code.contains("extends App"))
        }) mains += f.getFileName.toString.stripSuffix(".scala")
      }
    }
    assert(mains.sorted == Seq("AmplifyTestdata", "Bench", "ConfAbProbe",
      "GateCheck", "Verify"), mains)
  }

  test("src/main reads three spark.graft.* keys") {
    // each key is a knob a deployment must know about; a fixed value is
    // a named constant instead. This list only shrinks.
    val allowed = Set("spark.graft.lease.maxAgeMs",
      "spark.graft.touchedPartitions.cap", "spark.graft.zorder.parallelMinBytes")
    val key = """spark\.graft(\.\w+)+""".r
    val root = java.nio.file.Paths.get("src/main")
    val files = java.nio.file.Files.walk(root).iterator()
    val keys = scala.collection.mutable.SortedSet[String]()
    while (files.hasNext) {
      val f = files.next()
      if (f.toString.endsWith(".scala"))
        java.nio.file.Files.readAllLines(f).toArray.map(_.toString.trim)
          .filterNot(c => c.startsWith("*") || c.startsWith("/*") ||
            c.startsWith("//"))
          .foreach(c => keys ++= key.findAllIn(c))
    }
    assert(keys.toSet.subsetOf(allowed), s"keys read in src/main: $keys")
  }
}
