package graft

import graft.exec.{DataTests, UnitTests}
import graft.exec.DataTests._

/** dbt generic data tests (ref Tutorial.md:152-198, test_basic.py). */
class DataTestsSpec extends SparkSpec {
  import spark.implicits._

  private val users = Seq(
    (1L, Some("a"), "active"), (2L, Some("b"), "active"),
    (2L, Some("c"), "inactive"), (3L, None, "active"),
    (4L, Some("d"), "deleted"), (5L, Some("e"), null))
    .toDF("id", "name", "status")

  private val parents = Seq(1L, 2L, 3L).toDF("pid")

  test("unique: non-null duplicate keys fail with their counts") {
    val f = unique(users, Seq("id")).collect()
    assert(f.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 2L)))
  }

  test("not_null: null rows fail") {
    assert(notNull(users, "name").select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("accepted_values: out-of-set fails, NULL passes") {
    val f = acceptedValues(users, "status", Seq("active", "inactive"))
    assert(f.select("id").as[Long].collect().toSeq == Seq(4L))
  }

  test("relationships: orphans fail, NULL child keys pass") {
    val children = Seq(Some(1L), Some(9L), None).toDF("pid")
    val f = relationships(children, "pid", parents, "pid")
    assert(f.as[Option[Long]].collect().toSeq == Seq(Some(9L)))
  }

  test("relationships: duplicate parent keys and NULL child keys give exactly the distinct-parent rows") {
    val children = Seq((1L, "a"), (9L, "b"), (9L, "b"), (7L, "c"), (2L, "d"))
      .map { case (k, v) => (Option(k), v) }
      .++(Seq((None, "e"), (None, "f")))
      .toDF("pid", "v")
    val dupParents = Seq(1L, 1L, 2L, 2L, 2L, 3L).toDF("pid")
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.as[(Option[Long], String)].collect().toSeq.sortBy(_.toString)
    // the former shape: anti join against the DISTINCT parent keys
    val before = children.filter($"pid".isNotNull)
      .join(dupParents.select($"pid").distinct(), Seq("pid"), "left_anti")
    val got = rowsOf(relationships(children, "pid", dupParents, "pid"))
    assert(got == rowsOf(before))
    assert(got == Seq((Some(7L), "c"), (Some(9L), "b"), (Some(9L), "b")))
  }

  test("runFused: a test with no failing rows reads 0; results keep input order") {
    val rs = DataTests.runFused(spark, Seq(
      Test("nn_status", notNull(users, "status")),
      Test("clean", notNull(users, "id")),
      Test("uniq", unique(users, Seq("id"))),
      Test("none_at_all", users.filter($"id" < 0), Warn),
      Test("acc", acceptedValues(users, "status", Seq("active")), errorIf = 5)))
    assert(rs == Seq(
      Result("nn_status", 1, Failed(1)),
      Result("clean", 0, Pass),
      Result("uniq", 1, Failed(1)),
      Result("none_at_all", 0, Pass),
      Result("acc", 2, Pass)))
  }

  test("profileApprox: each partial aggregate carries ONE sketch attribute per profiled column") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{HyperLogLogPlusPlus, Partial}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val cols = Seq("id", "name", "status")
    val plan = DataTests.profileApprox(users, cols).queryExecution.sparkPlan
    val partials = plan.collect {
      case a: BaseAggregateExec if a.aggregateExpressions.forall(_.mode == Partial) => a }
    assert(partials.size == cols.size, plan.toString)
    partials.foreach { a =>
      val sketch = a.aggregateExpressions.map(_.aggregateFunction).collect {
        case f: graft.functions.HllAgg => f
        case f: HyperLogLogPlusPlus => f
      }.flatMap(_.aggBufferAttributes)
      assert(sketch.size == 1, s"sketch buffer is ${sketch.size} attributes wide")
    }
  }

  test("relationsEqual: equal bags pass; row-count and value diffs surface") {
    val a = Seq((1L, "x"), (2L, "y"), (2L, "y")).toDF("id", "v")
    val same = Seq((2L, "y"), (1L, "x"), (2L, "y")).toDF("id", "v")
    assert(relationsEqual(a, same).isEmpty)
    // duplicate-count difference is a difference (bag semantics)
    val fewer = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val d1 = relationsEqual(a, fewer).collect()
    assert(d1.nonEmpty)
    // value difference tagged by side
    val changed = Seq((1L, "x"), (2L, "z"), (2L, "y")).toDF("id", "v")
    val d2 = relationsEqual(a, changed)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(3))).toSet
    assert(d2.contains((2L, "y", "a")) && d2.contains((2L, "z", "b")))
  }

  test("unit tests: fixtures in, expected out, diff on mismatch") {
    import graft.exec.UnitTests
    val fixtureOrders = Seq((1L, "F", 10.0), (2L, "O", 20.0), (3L, "F", 30.0))
      .toDF("ok", "status", "price")
    val model = (s: org.apache.spark.sql.SparkSession) =>
      s.sql("SELECT status, COUNT(*) AS n, SUM(price) AS total " +
        "FROM ut_orders GROUP BY status")
    val expectGood = Seq(("F", 2L, 40.0), ("O", 1L, 20.0))
      .toDF("status", "n", "total")
    val r1 = UnitTests.run(spark, "agg_by_status",
      Map("ut_orders" -> fixtureOrders), model, expectGood)
    assert(r1.passed, r1.diff.collect().mkString(";"))
    val expectBad = Seq(("F", 2L, 40.0), ("O", 9L, 20.0))
      .toDF("status", "n", "total")
    val r2 = UnitTests.run(spark, "agg_by_status_bad",
      Map("ut_orders" -> fixtureOrders), model, expectBad)
    assert(!r2.passed)
    val sides = r2.diff.select("only_in").as[String].collect().toSet
    assert(sides == Set("a", "b")) // actual vs expected rows both surfaced
    // fixture views are cleaned up
    assert(!spark.catalog.tableExists("ut_orders"))
  }

  test("runner: severity + error_if thresholds; store_failures persists") {
    spark.sql("CREATE DATABASE IF NOT EXISTS dt_audit")
    val results = DataTests.run(spark, Seq(
      Test("uniq", unique(users, Seq("id"))),
      Test("uniq_warn", unique(users, Seq("id")), Warn),
      Test("uniq_tolerant", unique(users, Seq("id")), errorIf = 1),
      Test("nn_name", notNull(users, "name"))),
      storeFailuresIn = Some("dt_audit"))
    val byName = results.map(r => r.name -> r.status).toMap
    assert(byName("uniq") == Failed(1))
    assert(byName("uniq_warn") == Warned(1))
    assert(byName("uniq_tolerant") == Pass)
    assert(byName("nn_name") == Failed(1))
    // failures stored as audit tables
    assert(spark.table("dt_audit.uniq").count() == 1)
    assert(spark.table("dt_audit.nn_name").count() == 1)
  }

  test("relationsEqual handles data columns named like its old internal tags") {
    val a = Seq((1L, "buy"), (2L, "sell")).toDF("id", "side")
    val b = Seq((1L, "buy"), (2L, "sell")).toDF("id", "side")
    assert(DataTests.relationsEqual(a, b).isEmpty)
    val c = Seq((1L, "buy"), (2L, "hold")).toDF("id", "side")
    assert(DataTests.relationsEqual(a, c).count() == 2)
    // reserved names are refused loudly, never silently overwritten
    intercept[IllegalArgumentException] {
      DataTests.relationsEqual(a.withColumnRenamed("side", "__graft_n"),
        b.withColumnRenamed("side", "__graft_n"))
    }
  }

  test("profile: per-column stats typed, null-aware, one row per column") {
    val df = Seq(
      (1L, Some("b"), Some(10.5)),
      (2L, None, Some(2.25)),
      (2L, Some("a"), None)
    ).toDF("id", "s", "x")
    val rows = graft.exec.DataTests.profile(df, Seq("id", "s", "x"))
      .orderBy($"column_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5))).toSeq
    assert(rows == Seq(
      ("id", 3L, 0L, 2L, "1", "2"),
      ("s", 3L, 1L, 2L, "a", "b"),
      // typed min/max: numeric 2.25 < 10.5 (lexicographic would flip it)
      ("x", 3L, 1L, 2L, "2.25", "10.5")))
    intercept[IllegalArgumentException] {
      graft.exec.DataTests.profile(df, Seq("nope"))
    }
  }

  test("driftPsi: identical snapshots score 0, a shifted snapshot scores > 0.25") {
    import graft.exec.DataTests
    val base = (1 to 1000).map(i => i.toDouble % 100).toDF("v")
    // identical distribution → every psi_term 0, total 0
    val same = DataTests.driftPsi(base, base, "v", bins = 10)
      .select($"bin", $"psi_term", $"psi_total")
      .as[(Int, Double, Double)].collect().sortBy(_._1)
    assert(same.length == 10)
    assert(same.forall(r => r._2 == 0.0 && r._3 == 0.0))
    // mass shifted INTO the top of the baseline range → conventional
    // "investigate" threshold crossed; clamped, not lost
    val shifted = (1 to 1000).map(i => 60.0 + i % 40).toDF("v")
    val drift = DataTests.driftPsi(base, shifted, "v", bins = 10)
      .select($"bin", $"n_cur", $"psi_total")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(drift.head._3 > 0.25, s"psi ${drift.head._3} not flagged")
    // bins below 60 are EMPTY in the current snapshot but still present
    // (spine) with the eps-smoothed finite term
    assert(drift.count(_._2 == 0L) >= 5)
    assert(drift.map(_._1).toSeq == (0 to 9))
    // out-of-range current mass clamps to the edge bin instead of vanishing
    val above = (1 to 100).map(_ => 1000.0).toDF("v")
    val clamped = DataTests.driftPsi(base, above, "v", bins = 10)
      .select($"bin", $"n_cur").as[(Int, Long)].collect().toMap
    assert(clamped(9) == 100L && clamped.values.sum == 100L)
    intercept[IllegalArgumentException] {
      DataTests.driftPsi(base, base, "v", bins = 1)
    }
    ()
  }

  test("driftKs: identical → 0, disjoint shift → near 1, cdf monotone to 1") {
    import graft.exec.DataTests
    val base = (1 to 1000).map(i => i.toDouble % 100).toDF("v")
    val same = DataTests.driftKs(base, base, "v", bins = 20)
      .select($"bin", $"ks_term", $"ks_stat")
      .as[(Int, Double, Double)].collect().sortBy(_._1)
    assert(same.length == 20 && same.forall(r => r._2 == 0.0 && r._3 == 0.0))
    // current mass entirely ABOVE the baseline range (clamps to top bin):
    // the ECDF gap reaches 1 − 1/bins at the penultimate bin
    val above = (1 to 500).map(_ => 1000.0).toDF("v")
    val ks = DataTests.driftKs(base, above, "v", bins = 20)
      .select($"bin", $"cdf_base", $"cdf_cur", $"ks_stat")
      .as[(Int, Double, Double, Double)].collect().sortBy(_._1)
    assert(ks.last._4 >= 0.94, s"ks ${ks.last._4} too small for a full shift")
    // both CDFs are monotone and end exactly at 1
    assert(ks.map(_._2).toSeq == ks.map(_._2).sorted.toSeq && ks.last._2 == 1.0)
    assert(ks.map(_._3).toSeq == ks.map(_._3).sorted.toSeq && ks.last._3 == 1.0)
    // the reported stat IS the max of the reported terms (rounded after max)
    val terms = DataTests.driftKs(base, above, "v", bins = 20)
      .select($"ks_term").as[Double].collect()
    assert(ks.last._4 == terms.max)
    intercept[IllegalArgumentException] {
      DataTests.driftKs(base, base, "v", bins = 1)
    }
    ()
  }

  test("driftChi2: identical → 0, planted category shift detected, NULLs bucketed") {
    import graft.exec.DataTests
    val base = ((1 to 400).map(_ => "a") ++ (1 to 400).map(_ => "b")
      ++ (1 to 200).map(_ => "c")).toDF("v")
    val same = DataTests.driftChi2(base, base, "v")
      .select($"category", $"chi2_term", $"chi2_stat", $"dof")
      .as[(String, Double, Double, Long)].collect().sortBy(_._1)
    assert(same.length == 3 && same.forall(r => r._2 == 0.0 && r._3 == 0.0))
    assert(same.head._4 == 2L) // k−1 degrees of freedom
    // a/b ratio flips 2:2:1 → 1:3:1 — far past the 0.01-significance
    // critical value for dof=2 (9.21)
    val cur = ((1 to 200).map(_ => "a") ++ (1 to 600).map(_ => "b")
      ++ (1 to 200).map(_ => "c")).toDF("v")
    val drift = DataTests.driftChi2(base, cur, "v")
      .select($"chi2_stat").as[Double].collect().head
    assert(drift > 9.21, s"chi2 $drift should flag the planted shift")
    // NULL is its own category: a null-rate drift is visible, and a
    // category absent from one side still gets a finite term
    val withNull = ((1 to 500).map(_ => "a")
      ++ (1 to 500).map(_ => null: String)).toDF("v")
    val nul = DataTests.driftChi2(base, withNull, "v")
      .select($"category", $"chi2_term").as[(String, Double)].collect()
    assert(nul.map(_._1).toSet == Set("a", "b", "c", "__null"))
    assert(nul.forall(r => !r._2.isNaN && !r._2.isInfinite))
    // an EMPTY snapshot fails LOUD (in-plan raise_error), never NaN terms
    val empty = base.filter(org.apache.spark.sql.functions.lit(false))
    val boom = intercept[Exception] {
      DataTests.driftChi2(base, empty, "v").collect()
    }
    def rootMsg(t: Throwable): String =
      (t.getMessage +: Option(t.getCause).toSeq.map(rootMsg)).mkString(" | ")
    assert(rootMsg(boom).contains("snapshot is empty"), rootMsg(boom))
    // BOTH snapshots empty must also fail loud: the full-outer join of the
    // two counted frames is empty, so the r14 per-joined-row guards never
    // evaluated and the result was a silently empty frame (ADVICE r14) —
    // the guard now lives on the always-present totals row
    val boom2 = intercept[Exception] {
      DataTests.driftChi2(empty, empty, "v").collect()
    }
    assert(rootMsg(boom2).contains("snapshot is empty"), rootMsg(boom2))
    ()
  }

  test("driftTv: identical → 0, moved mass measured exactly, DUPLICATION " +
    "leaves it unchanged while chi² inflates, empty sides fail loud") {
    import graft.exec.DataTests
    val base = ((1 to 400).map(_ => "a") ++ (1 to 400).map(_ => "b")
      ++ (1 to 200).map(_ => "c")).toDF("v")
    val same = DataTests.driftTv(base, base, "v")
      .select($"tv_stat").as[Double].collect().head
    assert(same == 0.0)
    // 2:2:1 → 1:3:1 moves exactly 0.2 of the mass (a: 0.4→0.2 gives
    // |Δ|/2 = 0.1, b: 0.4→0.6 gives 0.1, c unchanged)
    val cur = ((1 to 200).map(_ => "a") ++ (1 to 600).map(_ => "b")
      ++ (1 to 200).map(_ => "c")).toDF("v")
    val tv = DataTests.driftTv(base, cur, "v")
      .select($"tv_stat").as[Double].collect().head
    assert(math.abs(tv - 0.2) < 1e-9, s"tv $tv should be exactly 0.2")
    // the property the warm-up drift guard rides: duplicating BOTH sides
    // k× is a fixed point of TV (shares unchanged) while the same
    // duplication multiplies chi² by k — TV separates "more confident"
    // from "more moved"
    val base50 = (1 to 50).flatMap(_ => Seq.fill(8)("a") ++ Seq.fill(2)("b"))
      .toDF("v")
    val cur50 = (1 to 50).flatMap(_ => Seq.fill(7)("a") ++ Seq.fill(3)("b"))
      .toDF("v")
    val tvDup = DataTests.driftTv(base50, cur50, "v")
      .select($"tv_stat").as[Double].collect().head
    val tvOrig = DataTests.driftTv(
        (Seq.fill(8)("a") ++ Seq.fill(2)("b")).toDF("v"),
        (Seq.fill(7)("a") ++ Seq.fill(3)("b")).toDF("v"), "v")
      .select($"tv_stat").as[Double].collect().head
    assert(tvDup == tvOrig, s"duplication must not move TV ($tvDup vs $tvOrig)")
    val chiDup = DataTests.driftChi2(base50, cur50, "v")
      .select($"chi2_stat").as[Double].collect().head
    val chiOrig = DataTests.driftChi2(
        (Seq.fill(8)("a") ++ Seq.fill(2)("b")).toDF("v"),
        (Seq.fill(7)("a") ++ Seq.fill(3)("b")).toDF("v"), "v")
      .select($"chi2_stat").as[Double].collect().head
    assert(chiDup > 40 * chiOrig,
      s"chi² must inflate ~50× under 50× duplication ($chiOrig → $chiDup)")
    // NULL is its own category; share columns stay finite
    val withNull = ((1 to 500).map(_ => "a")
      ++ (1 to 500).map(_ => null: String)).toDF("v")
    val nul = DataTests.driftTv(base, withNull, "v")
      .select($"category", $"tv_term").as[(String, Double)].collect()
    assert(nul.map(_._1).toSet == Set("a", "b", "c", "__null"))
    assert(nul.forall(r => !r._2.isNaN && !r._2.isInfinite))
    // empty sides fail loud, both-empty included (the chi² discipline)
    val empty = base.filter(org.apache.spark.sql.functions.lit(false))
    def rootMsg(t: Throwable): String =
      (t.getMessage +: Option(t.getCause).toSeq.map(rootMsg)).mkString(" | ")
    val boom = intercept[Exception] {
      DataTests.driftTv(base, empty, "v").collect()
    }
    assert(rootMsg(boom).contains("snapshot is empty"), rootMsg(boom))
    val boom2 = intercept[Exception] {
      DataTests.driftTv(empty, empty, "v").collect()
    }
    assert(rootMsg(boom2).contains("snapshot is empty"), rootMsg(boom2))
    ()
  }

  test("unit-test fixtures shadow and then RESTORE a pre-existing temp view") {
    Seq((99L, "prior")).toDF("id", "v").createOrReplaceTempView("ut_shadowed")
    val fixture = Seq((1L, "fix")).toDF("id", "v")
    val r = UnitTests.run(spark, "shadow",
      given = Map("ut_shadowed" -> fixture),
      model = s => s.table("ut_shadowed"),
      expect = fixture)
    assert(r.passed)
    // the ORIGINAL view is back, not dropped, not the fixture
    assert(spark.table("ut_shadowed").as[(Long, String)].collect().toSeq
      == Seq((99L, "prior")))
    spark.catalog.dropTempView("ut_shadowed")
  }
}
