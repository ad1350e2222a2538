package graft.examples

import graft.catalog.{PartitionSpec, TableRef}
import graft.exec.AtomicWriter

/** Commit-cost probe at 10⁴ partitions: overwriting K ∈ {100, 1000,
  * 10000} partitions of a 10⁴-partition table. What this pins down is the
  * cost CURVE of the commit step itself — per-touched-partition cost must
  * stay flat as K grows (batched DDL, no O(N) scans of the untouched
  * partitions), which is what makes the swap viable on a 10⁵–10⁶-partition
  * production table where K is the delta, not the table. */
object Commit10kProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Verify.session("16")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val N = 10000
    val part = PartitionSpec.Static(Seq("pt" -> "string"))
    spark.sql("CREATE DATABASE IF NOT EXISTS probe")
    val ref = TableRef("probe.c10k")
    val t0 = System.nanoTime()
    val base = (1 to N).map(i => (i.toLong, f"p$i%05d")).toDF("id", "pt")
    AtomicWriter.createOrReplace(spark, base, ref, part)
    println(f"base CTAS of $N partitions: ${(System.nanoTime() - t0) / 1e9}%6.1f s")
    for (k <- Seq(100, 1000, 10000)) {
      val delta = (1 to k).map(i => (i.toLong + 7 * k, f"p$i%05d")).toDF("id", "pt")
      val t1 = System.nanoTime()
      AtomicWriter.overwritePartitions(spark, delta, ref, part)
      val dt = (System.nanoTime() - t1) / 1e9
      println(f"N=$N K=$k%5d overwrite=$dt%6.1f s " +
        f"(${dt * 1000 / k}%6.2f ms/partition)")
    }
    val n = spark.table(ref.render).count()
    require(n == N, s"row count $n != $N")
    spark.sql(s"DROP TABLE ${ref.render}")
    spark.stop()
  }
}
