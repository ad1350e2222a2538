package graft.exec

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.TableRef
import graft.functions.HllAgg

/** dbt generic data tests — the `dbt test` surface the reference inherits
  * from dbt-core (Tutorial.md:152-198 runs all four against MaxCompute;
  * tests/functional/adapter/test_basic.py exercises them). Each test is a
  * query returning the FAILING rows; 0 rows ⇒ pass (Tutorial.md:179).
  *
  * Engine mapping (all single-shuffle, partition-parallel):
  *  - unique:          groupBy(keys).count > 1  (map-side combined)
  *  - not_null:        filter(isNull) — pure scan, no shuffle
  *  - accepted_values: filter(!isin) — pure scan
  *  - relationships:   left_anti join child→parent on the raw parent keys
  *                     (an anti join's output ignores duplicate keys on its
  *                     build side, so no distinct — and no shuffle — before
  *                     AQE broadcasts a small parent)
  *
  * `store_failures` persists each test's failing rows as a table
  * (dbt's audit schema); severity `Warn` reports without failing the run.
  */
object DataTests {

  sealed trait Severity
  case object Error extends Severity
  case object Warn extends Severity

  final case class Test(
      name: String,
      failingRows: DataFrame,
      severity: Severity = Error,
      /** fail only when failures exceed this count (dbt error_if default 0) */
      errorIf: Long = 0)

  sealed trait Status
  case object Pass extends Status
  final case class Failed(failures: Long) extends Status
  final case class Warned(failures: Long) extends Status

  final case class Result(name: String, failures: Long, status: Status)

  // ------------------------------------------------------------ test builders

  /** Rows whose (cols) tuple occurs more than once — non-NULL keys only,
    * matching dbt's unique test (NULLs are not_null's business). */
  def unique(df: DataFrame, cols: Seq[String]): DataFrame =
    df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("n_records"))
      .filter(col("n_records") > 1)

  /** Rows where `c` is NULL. */
  def notNull(df: DataFrame, c: String): DataFrame =
    df.filter(col(c).isNull)

  /** Rows whose `c` is outside `values` (NULL passes, as in dbt). */
  def acceptedValues(df: DataFrame, c: String, values: Seq[Any]): DataFrame =
    df.filter(col(c).isNotNull && !col(c).isin(values: _*))

  /** Child rows whose `childCol` has no match in parent's `parentCol`
    * (NULL child keys pass, as in dbt). */
  def relationships(child: DataFrame, childCol: String,
      parent: DataFrame, parentCol: String): DataFrame =
    child.filter(col(childCol).isNotNull)
      .join(parent.select(col(parentCol).as(childCol)), Seq(childCol),
        "left_anti")

  /** Custom singular test: any user query; rows returned = failures. */
  def singular(failing: DataFrame): DataFrame = failing

  /** dbt's `check_relations_equal` (test_core.py:29) / unit-test compare:
    * symmetric difference of the two relations tagged by side, counting
    * duplicates (bag semantics via a per-side row counter). Empty ⇒ equal.
    * Internal tag columns carry a reserved prefix and are checked against
    * the data columns — a relation with a real column named e.g. "side"
    * must not have it silently overwritten into a wrong verdict. */
  def relationsEqual(a: DataFrame, b: DataFrame): DataFrame = {
    val cols = a.columns.toSeq
    val N = "__graft_n"; val SIDE = "__graft_side"; val SIDES = "__graft_sides"
    val clash = cols.toSet.intersect(Set(N, SIDE, SIDES))
    require(clash.isEmpty, s"reserved column name(s) in compared relation: $clash")
    def counted(df: DataFrame) =
      df.groupBy(cols.map(col): _*).agg(count(lit(1)).as(N))
    counted(a).withColumn(SIDE, lit("a"))
      .unionByName(counted(b).withColumn(SIDE, lit("b")))
      .groupBy(cols.map(col) :+ col(N): _*)
      .agg(collect_set(col(SIDE)).as(SIDES))
      .filter(size(col(SIDES)) === 1)
      .select(cols.map(col) :+ col(N).as("n_records") :+
        element_at(col(SIDES), 1).as("only_in"): _*)
  }

  // ------------------------------------------------------------------ runner

  private def statusOf(t: Test, failures: Long): Status =
    if (failures <= t.errorIf) Pass
    else t.severity match {
      case Warn => Warned(failures)
      case Error => Failed(failures)
    }

  /** Run tests; optionally store each test's failing rows as
    * `<storeFailuresIn>.<test name>` (dbt store_failures). Without
    * store_failures, all counts are computed in ONE Spark action (see
    * [[runFused]]) — a `dbt test` run over N tests is N scans inside one
    * job, not N sequential jobs each paying scheduler latency. */
  def run(spark: SparkSession, tests: Seq[Test],
      storeFailuresIn: Option[String] = None): Seq[Result] =
    storeFailuresIn match {
      case Some(db) =>
        tests.map { t =>
          val ref = TableRef(s"$db.${t.name}")
          AtomicWriter.createOrReplace(spark, t.failingRows, ref)
          val failures = spark.table(ref.render).count()
          Result(t.name, failures, statusOf(t, failures))
        }
      case None => runFused(spark, tests)
    }

  /** All failure counts in one action and one shuffle: each test's
    * failing rows are tagged with the test's index, the tagged branches
    * are unioned, and ONE `groupBy(test_idx).count()` is collected. The
    * branches still scan their sources independently (parallel stages of
    * one job); a test with no failing rows has no group and reads 0.
    * One global COUNT per test, unioned, would cost one single-partition
    * exchange per test. */
  def runFused(spark: SparkSession, tests: Seq[Test]): Seq[Result] = {
    if (tests.isEmpty) return Seq.empty
    val tagged = tests.zipWithIndex.map { case (t, i) =>
      t.failingRows.select(lit(i).as("test_idx"))
    }.reduce(_.unionAll(_))
    val byIdx = tagged.groupBy(col("test_idx")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    tests.zipWithIndex.map { case (t, i) =>
      val f = byIdx.getOrElse(i, 0L)
      Result(t.name, f, statusOf(t, f))
    }
  }

  /** dbt-profiler-style column profile: one row per profiled column —
    * (column_name, n_rows, n_nulls, n_distinct, min_value, max_value),
    * min/max computed on the TYPED column and rendered as strings so
    * heterogeneous columns union cleanly. Each column is one single-row
    * aggregate branch of one union, consumed in ONE action — and since
    * each branch prunes to its own column, the union's total scan bytes
    * equal ONE pass over the profiled columns (columnar source), not
    * n_cols table scans. Exact `countDistinct` here so the DuckDB oracle
    * matches; [[profileApprox]] is the 100 TB swap-in (HLL), gated
    * against this twin by dt03. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    profileImpl(df, cols, rsd = None)

  /** The 100 TB form of [[profile]]: `n_distinct` is a HyperLogLog++
    * estimate — one mergeable fixed-size sketch per branch instead of
    * `countDistinct`'s expand+regroup of every distinct value through the
    * shuffle. Same output contract; standard error ≈ `rsd` — dt03 gates
    * the estimate against the exact twin in-query (the q17/q30 pattern).
    *
    * The sketch is [[graft.functions.HllAgg]]: `approx_count_distinct`'s
    * estimate bit for bit, but with its registers in one buffer object.
    * The built-in spreads them over one buffer column per register word
    * (410 at rsd 0.02, 1,639 at rsd 0.01), and generating code for rows
    * that wide, per query, cost more than the profile's data work. */
  def profileApprox(df: DataFrame, cols: Seq[String],
      rsd: Double = 0.02): DataFrame = {
    require(rsd > 0 && rsd < 0.4, s"rsd out of range: $rsd")
    profileImpl(df, cols, Some(rsd))
  }

  private def profileImpl(df: DataFrame, cols: Seq[String],
      rsd: Option[Double]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"profile: no such column(s): ${missing.mkString(", ")}")
    def distinctOf(c: String): Column = rsd match {
      case None => countDistinct(col(c))
      case Some(r) => HllAgg(col(c), r)
    }
    cols.map { c =>
      df.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
        distinctOf(c).as("n_distinct"),
        min(col(c)).cast("string").as("min_value"),
        max(col(c)).cast("string").as("max_value"))
        .select(lit(c).as("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_value"), col("max_value"))
    }.reduce(_.unionAll(_))
  }

  /** The numeric drift core [[driftPsi]] and [[driftKs]] share: `bins`
    * equal-width bins over the BASELINE min/max (current values outside
    * the range clamp to the edge bins; the min/max scalars ride a
    * broadcast, never collected), one map-side-combined grouped count per
    * snapshot, a static `sequence` bin spine that makes EMPTY bins
    * explicit rows, and the snapshot totals alongside. Returns one row
    * per bin: (bin, n_base, n_cur, __tb, __tc). */
  private def binnedCounts(base: DataFrame, cur: DataFrame, valueCol: String,
      bins: Int): DataFrame = {
    val stats = base.agg(
      min(col(valueCol)).cast("double").as("__lo"),
      max(col(valueCol)).cast("double").as("__hi"))
    def binned(df: DataFrame): DataFrame =
      df.select(col(valueCol).cast("double").as("__x"))
        .filter(col("__x").isNotNull)
        .crossJoin(broadcast(stats))
        .select(least(lit(bins - 1), greatest(lit(0),
          floor((col("__x") - col("__lo"))
            / ((col("__hi") - col("__lo")) / bins)).cast("int")))
          .as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n"))
    val spine = base.sparkSession.range(1)
      .select(explode(sequence(lit(0), lit(bins - 1))).as("__b"))
      .select(col("__b").cast("int").as("bin"))
    val joined = spine
      .join(binned(base).withColumnRenamed("n", "n_base"), Seq("bin"), "left")
      .join(binned(cur).withColumnRenamed("n", "n_cur"), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val totals = joined.agg(sum(col("n_base")).as("__tb"),
      sum(col("n_cur")).as("__tc"))
    joined.crossJoin(broadcast(totals))
  }

  /** Distribution-drift test between two snapshots of a numeric column —
    * the Population Stability Index every model-monitoring pipeline runs
    * when a table is re-materialized: `bins` equal-width bins over the
    * BASELINE min/max (current values outside the range clamp to the edge
    * bins, so novel mass is visible, not lost), per-bin population
    * fractions smoothed by `eps` (an empty bin contributes a finite term
    * instead of ±∞), psi_term = (p_cur − p_base) · ln(p_cur / p_base).
    * Total PSI = Σ terms (> 0.25 is the conventional "investigate" bar).
    *
    * Shape at scale: one min/max aggregate over the baseline (its scalars
    * ride a broadcast crossJoin — never collected), one map-side-combined
    * groupBy per snapshot whose output is `bins` rows, and a static
    * `sequence` bin spine that makes EMPTY bins explicit rows. Everything
    * downstream of the two grouped counts is bins-sized. Returns one row
    * per bin: (bin, n_base, n_cur, p_base, p_cur, psi_term, psi_total —
    * the total repeated per row so the frame is self-contained).
    *
    * Caller contract: the baseline must be non-empty with non-constant
    * values — an empty or constant baseline has no bin width, and the
    * NaN bin expression fails loud under ANSI casting rather than
    * binning garbage. */
  def driftPsi(base: DataFrame, cur: DataFrame, valueCol: String,
      bins: Int = 10, eps: Double = 1e-6): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    require(eps > 0, s"eps must be positive, got $eps")
    // explicit double casts: under ANSI mode a Long/Long `/` resolves to
    // integral `div`, which both truncates and throws on a zero divisor
    val p = greatest(col("n_base").cast("double") / col("__tb").cast("double"),
      lit(eps))
    val q = greatest(col("n_cur").cast("double") / col("__tc").cast("double"),
      lit(eps))
    val withTerms = binnedCounts(base, cur, valueCol, bins)
      .select(col("bin"), col("n_base"), col("n_cur"),
        round(p, 6).as("p_base"), round(q, 6).as("p_cur"),
        round((q - p) * log(q / p), 6).as("psi_term"))
    val total = withTerms.agg(round(sum(col("psi_term")), 6).as("psi_total"))
    withTerms.crossJoin(broadcast(total))
  }

  /** Two-sample Kolmogorov–Smirnov drift test between two snapshots of a
    * numeric column on a binned ECDF: `bins` equal-width bins over the
    * BASELINE min/max ([[driftPsi]]'s binning exactly — current values
    * outside the range clamp to the edge bins), cumulative per-bin
    * fractions, ks_term = |F_base(b) − F_cur(b)|, KS statistic =
    * max over bins. PSI answers "how much total divergence"; KS answers
    * "how large is the worst single distribution shift" — a localized
    * mode moving between snapshots can be PSI-small but KS-large, which
    * is why monitoring pipelines run both. Binning makes the statistic a
    * lower bound on the exact KS, tight to one bin width — the standard
    * streaming/distributed trade, taken here so no global sort of the
    * raw column ever happens.
    *
    * Shape at scale: identical to [[driftPsi]] — one baseline min/max
    * aggregate (scalars ride a broadcast), one map-side-combined groupBy
    * per snapshot emitting `bins` rows, and everything downstream
    * (including the cumulative window, which IS unpartitioned — over the
    * bins-sized frame, never the corpus) is bins-sized. Returns one row
    * per bin: (bin, n_base, n_cur, cdf_base, cdf_cur, ks_term, ks_stat —
    * the max repeated per row so the frame is self-contained). Rounds to
    * 6 decimals AFTER the max so the reported stat is the max of the
    * reported terms. Same caller contract as [[driftPsi]]: non-empty,
    * non-constant baseline. */
  def driftKs(base: DataFrame, cur: DataFrame, valueCol: String,
      bins: Int = 64): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    // the cumulative window is unpartitioned BY DESIGN: its input is the
    // bins-sized joined frame, not the corpus (the corpus was reduced by
    // the two grouped counts in binnedCounts)
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // explicit double casts: ANSI Long/Long `/` is integral div
    val withCdf = binnedCounts(base, cur, valueCol, bins)
      .select(col("bin"), col("n_base"), col("n_cur"),
        (sum(col("n_base")).over(wCum).cast("double")
          / col("__tb").cast("double")).as("__fb"),
        (sum(col("n_cur")).over(wCum).cast("double")
          / col("__tc").cast("double")).as("__fc"))
    val terms = withCdf.select(col("bin"), col("n_base"), col("n_cur"),
      round(col("__fb"), 6).as("cdf_base"), round(col("__fc"), 6).as("cdf_cur"),
      round(abs(col("__fb") - col("__fc")), 6).as("ks_term"))
    val ksMax = terms.agg(max(col("ks_term")).as("ks_stat"))
    terms.crossJoin(broadcast(ksMax))
  }

  /** Pearson chi-squared two-sample homogeneity test for a CATEGORICAL
    * column — the drift check dt04's PSI and dt05's KS (both numeric
    * binning) cannot express: categories have no order to bin or
    * accumulate over. For each category the expected count under "no
    * drift" is `rowTotal · sampleTotal / grandTotal`; the statistic is
    * Σ (obs − exp)²/exp over both samples with k−1 degrees of freedom.
    * Scale shape: the ONLY corpus-scale work is the two map-side-combined
    * grouped counts; everything downstream is categories-sized, and the
    * totals ride a broadcast (never a collect). NULL is its own category
    * (a drift in null-rate is drift). An EMPTY snapshot (either side) has
    * no homogeneity to test — expected counts would be 0 and the terms
    * NaN — so the plan raises a loud error instead (in-plan `raise_error`,
    * no extra validation job, no re-scan of the corpus-scale counts). */
  def driftChi2(base: DataFrame, cur: DataFrame, valueCol: String): DataFrame =
    categoricalDrift(base, cur, valueCol, "driftChi2", "chi2_term",
        "chi2_stat") {
      _.withColumn("__row", (col("n_base") + col("n_cur")).cast("double"))
        .withColumn("__g", (col("__tb") + col("__tc")).cast("double"))
        .withColumn("__eb", col("__row") * col("__tb").cast("double") / col("__g"))
        .withColumn("__ec", col("__row") * col("__tc").cast("double") / col("__g"))
        .select(col("category"), col("n_base"), col("n_cur"),
          round(col("__eb"), 6).as("exp_base"),
          round(col("__ec"), 6).as("exp_cur"),
          round(pow(col("n_base").cast("double") - col("__eb"), 2) / col("__eb")
            + pow(col("n_cur").cast("double") - col("__ec"), 2) / col("__ec"), 6)
            .as("chi2_term"),
          (col("__k") - 1).as("dof"))
    }

  /** Total-variation distance between two CATEGORICAL distributions —
    * the SCALE-FREE companion to [[driftChi2]]. Chi-squared grows ∝ n
    * and its sampling variance is multiplied by any duplication factor
    * in the data (the m32 lesson: a 100-copy corpus inflates a
    * same-distribution batch's chi² by ~100× while the distribution
    * itself is unchanged), so a chi² THRESHOLD cannot distinguish
    * "statistically certain but tiny shift" from "the mass actually
    * moved". TV = ½ Σ_c |share_base(c) − share_cur(c)| ∈ [0, 1] measures
    * the moved mass itself: duplication widens its NOISE floor by
    * √dup-factor but leaves its value centered on the true
    * distributional distance, so a large-sample same-distribution batch
    * stays near 0 at any duplication level while genuine drift holds a
    * constant gap. [[graft.llm.IndexStore.ingestWithDriftGuard]] uses
    * exactly this split: chi² says "not noise", TV says "and the mass
    * moved" (measured across four scales in BENCH_LOCAL_r16.md).
    *
    * Per-category output: counts, both shares, the TV term
    * ½|Δshare|, plus the total `tv_stat` on every row (the
    * [[driftChi2]] layout). NULL is its own category; an empty snapshot
    * on either side raises loudly (same guard discipline as chi² — a
    * share against an empty sample is undefined). Scale shape: two
    * map-side-combined grouped counts; everything after is
    * categories-sized. */
  def driftTv(base: DataFrame, cur: DataFrame, valueCol: String): DataFrame =
    categoricalDrift(base, cur, valueCol, "driftTv", "tv_term", "tv_stat") {
      _.withColumn("__sb",
          col("n_base").cast("double") / col("__tb").cast("double"))
        .withColumn("__sc",
          col("n_cur").cast("double") / col("__tc").cast("double"))
        .select(col("category"), col("n_base"), col("n_cur"),
          round(col("__sb"), 6).as("share_base"),
          round(col("__sc"), 6).as("share_cur"),
          round(abs(col("__sb") - col("__sc")) / 2, 6).as("tv_term"))
    }

  /** The categorical drift core [[driftChi2]] and [[driftTv]] share. The
    * ONLY corpus-scale work is one map-side-combined grouped count per
    * snapshot (NULL is its own category — a drift in null-rate is drift),
    * full-joined into (category, n_base, n_cur); the snapshot totals and
    * the category count (__tb, __tc, __k) ride a broadcast onto every row,
    * never a collect. `terms` turns those rows into the per-category
    * output, and round(Σ `termCol`, 6) rides every row as `statCol`. An
    * EMPTY snapshot on either side has no distribution to compare, so the
    * plan raises a loud error naming `fn` instead (in-plan `raise_error`,
    * no extra validation job, no re-scan of the counts). */
  private def categoricalDrift(base: DataFrame, cur: DataFrame,
      valueCol: String, fn: String, termCol: String, statCol: String)(
      terms: DataFrame => DataFrame): DataFrame = {
    def counted(df: DataFrame, as: String): DataFrame =
      df.select(coalesce(col(valueCol).cast("string"), lit("__null"))
          .as("category"))
        .groupBy(col("category")).agg(count(lit(1)).as(as))
    val joined = counted(base, "n_base")
      .join(counted(cur, "n_cur"), Seq("category"), "full")
      .select(col("category"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val totals = joined.agg(sum(col("n_base")).as("__tb"),
      sum(col("n_cur")).as("__tc"), count(lit(1)).as("__k"))
    // the empty-side guards live on the TOTALS row, which exists even when
    // `joined` is empty (a global aggregate always emits one row) — the
    // r14 form guarded per JOINED row, so BOTH snapshots empty produced a
    // silently empty frame instead of the promised loud error (ADVICE
    // r14). The guarded row flows into every output row via the
    // crossJoin, so the one-side-empty case still raises per-row too.
    def nonEmpty(total: String, side: String): Column =
      when(coalesce(col(total), lit(0L)) > 0, col(total)).otherwise(
        raise_error(lit(s"$fn: $side snapshot is empty — drift is " +
          "undefined against an empty sample"))).as(total)
    val guarded = totals.select(nonEmpty("__tb", "base"),
      nonEmpty("__tc", "current"), col("__k"))
    val scored = terms(joined.crossJoin(broadcast(guarded)))
    // both-empty: `joined` is empty, so the crossJoin above emits no rows
    // and (under adaptive planning) may never evaluate the broadcast side —
    // the guard row is therefore ALSO unioned in through an always-false
    // filter whose predicate REFERENCES the guarded totals (the raise
    // lives inside the referenced value, so the optimizer cannot fold the
    // branch away — a `when(c, null)` form folded to a constant and the
    // raise with it); it evaluates whenever the result materializes, then
    // contributes no rows (zeros of the terms' schema)
    val guardRows = guarded
      .select((col("__tb") + col("__tc")).cast("string").as("category"))
      .filter(col("category").isNull)
      .select(col("category") +: scored.schema.fields.toSeq.tail.map(f =>
        lit(0).cast(f.dataType).as(f.name)): _*)
    val full = scored.unionByName(guardRows)
    val stat = full.agg(round(sum(col(termCol)), 6).as(statCol))
    full.crossJoin(broadcast(stat))
  }
}
