package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}

/** dbt unit tests (the `unit_test:` blocks of dbt-core ≥1.8; the reference
  * runs the standard unit-testing conformance suite, CHANGELOG.md
  * pre-release validation): run a model against FIXTURE inputs instead of
  * real sources and bag-compare the output against an expected relation.
  *
  * `given` maps source/ref names to fixture frames; they are registered as
  * temp views so the model body (a DataFrame builder or SQL referring to
  * those names) reads fixtures transparently. The diff is
  * [[DataTests.relationsEqual]] (symmetric bag difference) — empty ⇒ pass.
  */
object UnitTests {

  final case class UnitResult(name: String, passed: Boolean, diff: DataFrame)

  def run(spark: SparkSession, name: String,
      given: Map[String, DataFrame],
      model: SparkSession => DataFrame,
      expect: DataFrame): UnitResult = {
    // fixtures must SHADOW same-named temp views for the model run, then
    // RESTORE them — dropping a pre-existing view the test didn't create
    // would break whatever else in the session was using it
    val cat = spark.sessionState.catalog
    val shadowed = given.keys.map(v => v -> cat.getRawTempView(v)).toMap
    given.foreach { case (viewName, df) => df.createOrReplaceTempView(viewName) }
    try {
      val actual = model(spark)
      val diff = DataTests.relationsEqual(actual, expect)
      // the diff plan reads the fixture views lazily — materialize the
      // verdict BEFORE the finally block swaps the views back
      UnitResult(name, diff.isEmpty, diff)
    } finally shadowed.foreach {
      case (v, Some(prior)) => cat.createTempView(v, prior, overrideIfExists = true)
      case (v, None) => spark.catalog.dropTempView(v)
    }
  }
}
