package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import graft.catalog.TableRef
import graft.exec.SnapshotExec

/** SCD-2 snapshot behavior pinned by the reference's core suite
  * (test_core.py:1204-1209 via FIXTURES.md §1): 3-row seed, update id=1 →
  * 4 rows with 2 versions of id 1. */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def base() = Seq(
    (1L, "Alice", 100L, "2024-01-01 00:00:00"),
    (2L, "Bob", 200L, "2024-01-01 00:00:00"),
    (3L, "Carol", 300L, "2024-01-01 00:00:00"))
    .toDF("id", "name", "value", "updated_at")
    .withColumn("updated_at", col("updated_at").cast("timestamp"))

  private var n = 0
  private def freshRef(): TableRef = { n += 1; TableRef(s"default.snap_spec_$n") }

  test("timestamp strategy: update creates a second version and closes the first") {
    val ref = freshRef()
    SnapshotExec.run(spark, ref, base(), Seq("id"),
      SnapshotExec.TimestampStrategy("updated_at"), ts("2024-01-01 00:00:00"))
    assert(spark.table(ref.render).count() == 3)

    val v2 = base().withColumn("value",
        when($"id" === 1, lit(999L)).otherwise($"value"))
      .withColumn("updated_at",
        when($"id" === 1, lit("2024-02-01 00:00:00").cast("timestamp"))
          .otherwise($"updated_at"))
    SnapshotExec.run(spark, ref, v2, Seq("id"),
      SnapshotExec.TimestampStrategy("updated_at"), ts("2024-02-01 00:00:00"))

    val snap = spark.table(ref.render)
    assert(snap.count() == 4)
    val id1 = snap.filter($"id" === 1).orderBy($"dbt_valid_from").collect()
    assert(id1.length == 2)
    assert(id1(0).getAs[java.sql.Timestamp]("dbt_valid_to") == ts("2024-02-01 00:00:00"))
    assert(id1(0).getAs[Long]("value") == 100L)
    assert(id1(1).getAs[java.sql.Timestamp]("dbt_valid_to") == null)
    assert(id1(1).getAs[Long]("value") == 999L)
    // unchanged rows: still exactly one open version
    assert(snap.filter($"id" === 2).count() == 1)
    // scd ids unique
    assert(snap.select($"dbt_scd_id").distinct().count() == 4)
  }

  test("NULL-key rows version correctly (no duplicate/stale open versions)") {
    val ref = freshRef()
    val v1 = Seq((Option(1L), "Alice", 100L, "2024-01-01 00:00:00"),
      (Option.empty[Long], "NoKey", 50L, "2024-01-01 00:00:00"))
      .toDF("id", "name", "value", "updated_at")
      .withColumn("updated_at", col("updated_at").cast("timestamp"))
    SnapshotExec.run(spark, ref, v1, Seq("id"),
      SnapshotExec.TimestampStrategy("updated_at"), ts("2024-01-01 00:00:00"))
    val v2 = v1.withColumn("value",
        when($"id".isNull, lit(51L)).otherwise($"value"))
      .withColumn("updated_at",
        when($"id".isNull, lit("2024-02-01 00:00:00").cast("timestamp"))
          .otherwise($"updated_at"))
    SnapshotExec.run(spark, ref, v2, Seq("id"),
      SnapshotExec.TimestampStrategy("updated_at"), ts("2024-02-01 00:00:00"))
    val nulls = spark.table(ref.render).filter($"id".isNull)
      .orderBy($"dbt_valid_from").collect()
    // exactly one closed + one open version — not closed-and-stale-open-and-double-inserted
    assert(nulls.length == 2, s"got ${nulls.length} NULL-key versions")
    assert(nulls(0).getAs[java.sql.Timestamp]("dbt_valid_to") != null)
    assert(nulls(0).getAs[Long]("value") == 50L)
    assert(nulls(1).getAs[java.sql.Timestamp]("dbt_valid_to") == null)
    assert(nulls(1).getAs[Long]("value") == 51L)
  }

  test("idempotent re-run: same source second time is a no-op") {
    val ref = freshRef()
    SnapshotExec.run(spark, ref, base(), Seq("id"),
      SnapshotExec.TimestampStrategy("updated_at"), ts("2024-01-01 00:00:00"))
    SnapshotExec.run(spark, ref, base(), Seq("id"),
      SnapshotExec.TimestampStrategy("updated_at"), ts("2024-01-02 00:00:00"))
    assert(spark.table(ref.render).count() == 3)
    assert(spark.table(ref.render).filter($"dbt_valid_to".isNotNull).count() == 0)
  }

  test("invalidate_hard_deletes closes rows missing from the source") {
    val ref = freshRef()
    SnapshotExec.run(spark, ref, base(), Seq("id"),
      SnapshotExec.TimestampStrategy("updated_at"), ts("2024-01-01 00:00:00"))
    SnapshotExec.run(spark, ref, base().filter($"id" =!= 3), Seq("id"),
      SnapshotExec.TimestampStrategy("updated_at"), ts("2024-03-01 00:00:00"),
      invalidateHardDeletes = true)
    val snap = spark.table(ref.render)
    assert(snap.count() == 3)
    val id3 = snap.filter($"id" === 3).collect().head
    assert(id3.getAs[java.sql.Timestamp]("dbt_valid_to") == ts("2024-03-01 00:00:00"))
    assert(snap.filter($"dbt_valid_to".isNull).count() == 2)
  }

  test("check strategy: change detected on checked columns only") {
    val ref = freshRef()
    val t1lit = lit("2024-01-01 00:00:00").cast("timestamp")
    SnapshotExec.run(spark, ref, base().drop("updated_at"), Seq("id"),
      SnapshotExec.CheckStrategy(Seq("name", "value"), t1lit),
      ts("2024-01-01 00:00:00"))
    val t2lit = lit("2024-02-01 00:00:00").cast("timestamp")
    val v2 = base().drop("updated_at").withColumn("value",
      when($"id" === 2, lit(777L)).otherwise($"value"))
    SnapshotExec.run(spark, ref, v2, Seq("id"),
      SnapshotExec.CheckStrategy(Seq("name", "value"), t2lit),
      ts("2024-02-01 00:00:00"))
    val snap = spark.table(ref.render)
    assert(snap.count() == 4)
    assert(snap.filter($"id" === 2).count() == 2)
  }

  test("a repeated source key raises inside the pass and leaves the table as it was") {
    val ref = freshRef()
    val v1 = Seq((Option(1L), "a", "2024-01-01 00:00:00"),
      (Option.empty[Long], "n", "2024-01-01 00:00:00"))
      .toDF("id", "name", "updated_at")
      .withColumn("updated_at", col("updated_at").cast("timestamp"))
    SnapshotExec.run(spark, ref, v1, Seq("id"),
      SnapshotExec.TimestampStrategy("updated_at"), ts("2024-01-01 00:00:00"))
    def src(rows: (Option[Long], String, String)*) = rows.toDF("id", "name", "updated_at")
      .withColumn("updated_at", col("updated_at").cast("timestamp"))
    // two changed NULL-key rows (the same key under the NULL-proof match),
    // and two copies of an unchanged row, whose key no version rewrites
    for (v2 <- Seq(
        src((Option(1L), "a", "2024-01-01 00:00:00"),
          (None, "n2", "2024-02-01 00:00:00"), (None, "n3", "2024-02-01 00:00:00")),
        src((Option(1L), "a", "2024-01-01 00:00:00"),
          (Option(1L), "a", "2024-01-01 00:00:00"), (None, "n", "2024-01-01 00:00:00")))) {
      val e = intercept[Throwable] {
        SnapshotExec.run(spark, ref, v2, Seq("id"),
          SnapshotExec.TimestampStrategy("updated_at"), ts("2024-02-01 00:00:00"))
      }
      val messages = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(messages.contains("duplicate unique_key"), messages)
      assert(spark.table(ref.render).count() == 2)
      assert(spark.table(ref.render).filter($"dbt_valid_to".isNotNull).count() == 0)
    }
  }

  test("one pass: one relation leaf per input table, one data file for a small table") {
    val ref = freshRef()
    val srcRef = TableRef(s"default.snap_spec_src_$n")
    base().write.mode("overwrite").saveAsTable(srcRef.render)
    val strat = SnapshotExec.TimestampStrategy("updated_at")
    SnapshotExec.run(spark, ref, spark.table(srcRef.render), Seq("id"), strat,
      ts("2024-01-01 00:00:00"))
    val plan = SnapshotExec.nextTable(spark, ref, spark.table(srcRef.render), Seq("id"),
      strat, ts("2024-01-02 00:00:00"), invalidateHardDeletes = true)
      .queryExecution.optimizedPlan
    val leaves = plan.collectLeaves().map {
      case l: LogicalRelation => l.catalogTable.map(_.identifier.table).getOrElse(l.toString)
      case other => other.nodeName
    }
    assert(leaves.sorted == Seq(ref.name, srcRef.name).sorted, plan.treeString)

    SnapshotExec.run(spark, ref, spark.table(srcRef.render), Seq("id"), strat,
      ts("2024-01-02 00:00:00"))
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(ref.ident).location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listStatus(loc).map(_.getPath.getName)
      .filterNot(f => f.startsWith("_") || f.startsWith("."))
    assert(files.length == 1, files.mkString(", "))
  }

  // ---------------------------------------------------------------- model

  /** One source row; `updatedAt` drives the timestamp strategy. */
  private case class Src(id: Option[Long], name: Option[String], value: Long,
      updatedAt: Timestamp)
  /** One snapshot version, as the model keeps it (`dbt_scd_id` is checked
    * separately, against its definition). */
  private case class Ver(id: Option[Long], name: Option[String], value: Long,
      updatedAt: Timestamp, dbtUpdatedAt: Timestamp, validFrom: Timestamp,
      validTo: Option[Timestamp])

  /** Three generated sources over keys NULL and 1..12: each run after the
    * first drops some keys, brings dropped ones back, adds new ones, changes
    * some rows (value or name, with a later updated_at), touches others'
    * updated_at only or their value only, and leaves the rest as they were. */
  private def sources(seed: Long): Seq[Seq[Src]] = {
    val rnd = new scala.util.Random(seed)
    val keys: Seq[Option[Long]] = None +: (1L to 12L).map(Option(_))
    def at(run: Int) = ts(s"2024-0${run + 1}-01 00:00:00")
    var cur: Map[Option[Long], Src] = keys.take(9).map(k =>
      k -> Src(k, if (rnd.nextInt(4) == 0) None else Some(s"n$k"), rnd.nextInt(100),
        at(0))).toMap
    val out = Seq.newBuilder[Seq[Src]]
    out += keys.flatMap(cur.get)
    for (run <- 1 to 2) {
      cur = keys.flatMap { k =>
        cur.get(k) match {
          case None => if (rnd.nextInt(3) == 0) None
            else Some(Src(k, Some(s"new$run"), rnd.nextInt(100), at(run)))
          case Some(r) => rnd.nextInt(6) match {
            case 0 => None                                          // missing
            case 1 => Some(r.copy(value = r.value + 1, updatedAt = at(run)))
            case 2 => Some(r.copy(name = r.name.fold(Option("x"))(_ => None),
              updatedAt = at(run)))
            case 3 => Some(r.copy(updatedAt = at(run)))             // touched only
            case 4 => Some(r.copy(value = r.value + 1))             // value only
            case _ => Some(r)                                       // unchanged
          }
        }
      }.map(r => r.id -> r).toMap
      out += keys.flatMap(cur.get)
    }
    out.result()
  }

  /** SCD-2 as a list of versions: the reference's snapshot semantics. */
  private def modelStep(snap: Seq[Ver], src: Seq[Src], upd: Src => Timestamp,
      changed: (Ver, Src) => Boolean, at: Timestamp, invalidate: Boolean): Seq[Ver] = {
    def fresh(s: Src) =
      Ver(s.id, s.name, s.value, s.updatedAt, upd(s), upd(s), None)
    val open = snap.filter(_.validTo.isEmpty).map(v => v.id -> v).toMap
    val bySrc = src.map(s => s.id -> s).toMap
    snap.filter(_.validTo.nonEmpty) ++ open.values.toSeq.flatMap { v =>
      bySrc.get(v.id) match {
        case Some(s) if changed(v, s) => Seq(v.copy(validTo = Some(upd(s))), fresh(s))
        case Some(_) => Seq(v)
        case None => Seq(if (invalidate) v.copy(validTo = Some(at)) else v)
      }
    } ++ src.filterNot(s => open.contains(s.id)).map(fresh)
  }

  for (check <- Seq(false, true); invalidate <- Seq(false, true))
    test(s"three runs match an SCD-2 model (${if (check) "check" else "timestamp"} " +
        s"strategy, invalidateHardDeletes = $invalidate)") {
      val ref = freshRef()
      val runs = sources(if (check) 7L else 3L)
      var model = Seq.empty[Ver]
      for ((src, run) <- runs.zipWithIndex) {
        val at = ts(s"2024-0${run + 1}-01 00:00:00")
        val (strategy, upd, changed) =
          if (check) (SnapshotExec.CheckStrategy(Seq("name", "value"), lit(at)),
            (_: Src) => at,
            (v: Ver, s: Src) => v.name != s.name || v.value != s.value)
          else (SnapshotExec.TimestampStrategy("updated_at"),
            (s: Src) => s.updatedAt,
            (v: Ver, s: Src) => s.updatedAt.after(v.dbtUpdatedAt))
        val df = src.map(s => (s.id, s.name, s.value, s.updatedAt))
          .toDF("id", "name", "value", "updated_at")
        SnapshotExec.run(spark, ref, df, Seq("id"), strategy, at, invalidate)
        model = if (run == 0) src.map(s => Ver(s.id, s.name, s.value, s.updatedAt,
            upd(s), upd(s), None))
          else modelStep(model, src, upd, changed, at, invalidate)
        val got = spark.table(ref.render).collect().toSeq.map(r => Ver(
          Option(r.getAs[java.lang.Long]("id")).map(_.longValue),
          Option(r.getAs[String]("name")), r.getAs[Long]("value"),
          r.getAs[Timestamp]("updated_at"), r.getAs[Timestamp]("dbt_updated_at"),
          r.getAs[Timestamp]("dbt_valid_from"),
          Option(r.getAs[Timestamp]("dbt_valid_to"))))
        def key(v: Ver) = v.toString
        assert(got.sortBy(key) == model.sortBy(key), s"after run $run")
      }
      // the generated runs reach NULL keys, closed versions and new keys
      assert(model.exists(_.id.isEmpty) && model.exists(_.validTo.nonEmpty) &&
        model.exists(_.validFrom == ts("2024-03-01 00:00:00")))
      // every version's surrogate key is md5(key | its valid_from)
      assert(spark.table(ref.render).filter($"dbt_scd_id" =!= md5(concat_ws("|",
        coalesce($"id".cast("string"), lit("")),
        coalesce($"dbt_valid_from".cast("string"), lit(""))))).count() == 0)
    }
}
