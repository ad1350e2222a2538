package graft.examples

import graft.{Bench, SparkEntry, Verify}

/** Config A/B harness (r19, guide §1.2 "configuration last, measured"):
  * run named SparkEntry queries under session-level conf overrides and
  * print per-query seconds, so a join-preference or shuffle-codec flip is
  * adopted from numbers, not folklore. Overrides apply at session BUILD
  * time (the shuffle codec cannot be set on a live context). Each rep is
  * one `Bench.run` over the named queries, so a rep times the same full
  * evaluation the bench does, and counts the classes codegen compiled.
  *
  * Usage: runMain graft.examples.ConfAbProbe <sfDir> <reps> <k=v,k=v|none> name…
  */
object ConfAbProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val confs: Map[String, String] =
      if (args(2) == "none") Map.empty
      else args(2).split(",").map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }.toMap
    val names = args.drop(3).toSeq
    val queries = names.map(n => n -> SparkEntry.queries(n)).toMap
    val spark = Verify.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), confs)
    spark.sparkContext.setLogLevel("ERROR")
    println(s"[confab] overrides: ${if (confs.isEmpty) "none" else confs}")
    Bench.warmUp(spark, sfDir)
    val runs = (1 to reps).map(_ => Bench.run(spark, sfDir, queries))
    names.foreach { n =>
      val ts = runs.flatMap(_.seconds.toMap.get(n))
      val cs = runs.flatMap(_.compiles.toMap.get(n))
      if (ts.isEmpty) println(s"[confab] $n failed in every rep")
      else println(f"[confab] $n%-34s min ${ts.min}%7.2f s  " +
        f"median ${ts.sorted.apply(ts.size / 2)}%7.2f s  " +
        ts.map(t => f"$t%.2f").mkString("(", ", ", ")") +
        cs.mkString("  compiles (", ", ", ")"))
    }
    spark.stop()
  }
}
