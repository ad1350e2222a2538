package graft.mat

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.{CatalogOps, PartitionSpec, TableRef}
import graft.exec.{AtomicWriter, Incremental, SnapshotExec}
import graft.settings.SettingParser
import graft.functions.Fns

/** The M1–M14 materialization state machines of the reference
  * (macros/materializations/ directory), driven as in-process Spark plans.
  * Plans are ADTs/DataFrames end-to-end; `spark.sql` appears only where the
  * user supplies a SQL model body (like dbt's compiled SELECT).
  */
object Materializer {

  sealed trait IncrementalStrategy
  object IncrementalStrategy {
    final case class Merge(updateColumns: Seq[String] = Nil,
        excludeColumns: Seq[String] = Nil) extends IncrementalStrategy
    case object DeleteInsert extends IncrementalStrategy
    case object Append extends IncrementalStrategy
    case object InsertOverwrite extends IncrementalStrategy
  }

  /** `on_schema_change` modes (ref incremental.sql + adapters/columns.sql:
    * ignore | append_new_columns | sync_all_columns | fail). */
  sealed trait OnSchemaChange
  object OnSchemaChange {
    /** drop source-only columns, keep target schema (dbt default). */
    case object Ignore extends OnSchemaChange
    /** ALTER TABLE ADD COLUMNS for source-only columns. */
    case object AppendNewColumns extends OnSchemaChange
    /** add source-only columns AND drop target-only columns (parquet v1 has
      * no DROP COLUMNS ⇒ implemented as a schema-projecting rewrite). */
    case object SyncAllColumns extends OnSchemaChange
    /** raise on any difference. */
    case object Fail extends OnSchemaChange
  }

  /** Reconcile target schema with the source's before an incremental run.
    * Returns the source projected to the final target schema. */
  private def processSchemaChange(spark: SparkSession, target: TableRef,
      src: DataFrame, mode: OnSchemaChange,
      partition: PartitionSpec = PartitionSpec.None): DataFrame = {
    import OnSchemaChange._
    val tgtSchema = spark.table(target.render).schema
    val tgtCols = tgtSchema.map(_.name)
    val srcOnly = src.schema.filterNot(f => tgtCols.contains(f.name))
    val tgtOnly = tgtCols.filterNot(src.columns.contains)
    (mode, srcOnly.isEmpty && tgtOnly.isEmpty) match {
      case (_, true) => src
      case (Fail, _) => throw new IllegalStateException(
        s"schema changed: source-only=${srcOnly.map(_.name)} target-only=$tgtOnly")
      case (Ignore, _) =>
        // keep target schema; missing source columns become NULLs
        src.select(tgtSchema.map(f =>
          (if (src.columns.contains(f.name)) col(f.name)
           else lit(null).cast(f.dataType)).as(f.name)): _*)
      case (AppendNewColumns, _) =>
        if (srcOnly.nonEmpty) {
          val ddl = srcOnly.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
          spark.sql(s"ALTER TABLE ${target.render} ADD COLUMNS ($ddl)")
        }
        val newSchema = spark.table(target.render).schema
        src.select(newSchema.map(f =>
          (if (src.columns.contains(f.name)) col(f.name)
           else lit(null).cast(f.dataType)).as(f.name)): _*)
      case (SyncAllColumns, _) =>
        // final schema = (target ∩ source) ++ source-only, in target order
        val keep = tgtSchema.filter(f => src.columns.contains(f.name))
        val finalCols = keep.map(_.name) ++ srcOnly.map(_.name)
        // partition columns must survive the sync — dropping one would
        // change the table's layout out from under the running strategy
        val lost = partition.partitionColumns.filterNot(finalCols.contains)
        require(lost.isEmpty,
          s"sync_all_columns would drop partition column(s) ${lost.mkString(", ")}")
        if (tgtOnly.nonEmpty || srcOnly.nonEmpty) {
          val tgt = spark.table(target.render)
          val rewritten = tgt.select(keep.map(f => col(f.name)): _*)
            .select((keep.map(f => col(f.name)) ++
              srcOnly.map(f => lit(null).cast(f.dataType).as(f.name))): _*)
          // rewrite WITH the partition spec — the default would silently
          // recreate a partitioned target as an unpartitioned table
          graft.exec.AtomicWriter.overwriteTable(spark, rewritten, target,
            partition, graft.exec.AtomicWriter.currentBucketing(spark, target))
        }
        src.select(finalCols.map(col): _*)
    }
  }

  /** M1 `table`: CTAS with contract enforcement, tblproperties, lifecycle
    * (days-to-live stored as a property — OSS Spark has no TTL enforcement;
    * a reaper can act on it), bucketing (the delta-table `write.bucket.num`
    * analogue). Ref relations/table/create.sql:1-76. */
  def table(spark: SparkSession, target: TableRef, df: DataFrame,
      partition: PartitionSpec = PartitionSpec.None,
      bucketBy: Option[(Int, Seq[String])] = None,
      notNullColumns: Seq[String] = Nil,
      contract: Option[Seq[(String, String)]] = None,
      tblProperties: Map[String, String] = Map.empty,
      lifecycleDays: Option[Int] = None,
      comment: Option[String] = None): Unit = {
    contract.foreach(enforceContract(df, _))
    enforceNotNull(df, notNullColumns)
    // replacing an EXISTING table goes through the staged rename-swap: a
    // crash mid-write must leave the previous contents recoverable, never
    // a dropped table with a half-written successor. First build = plain
    // CTAS (nothing to lose). The bucket spec rides the staged table
    // through the rename, so bucketed tables get the same guarantee.
    val exists = CatalogOps.exists(spark, target)
    if (exists)
      AtomicWriter.overwriteTable(spark, df, target, partition, bucketBy)
    else
      AtomicWriter.createOrReplace(spark, df, target, partition, bucketBy)
    val props = tblProperties ++
      lifecycleDays.map("graft.lifecycle.days" -> _.toString) ++
      comment.map("comment" -> _)
    if (props.nonEmpty) {
      val rendered = props.map { case (k, v) =>
        s"'${Fns.sqlStringEscape(k)}'='${Fns.sqlStringEscape(v)}'"
      }.mkString(", ")
      spark.sql(s"ALTER TABLE ${target.render} SET TBLPROPERTIES ($rendered)")
    }
  }

  /** M2 `view`: CREATE OR REPLACE VIEW. Ref relations/view/create.sql. */
  def view(spark: SparkSession, target: TableRef, sql: String): Unit =
    spark.sql(s"CREATE OR REPLACE VIEW ${target.render} AS $sql")

  /** M3 `incremental` driver: first-run CTAS; full-refresh drop+CTAS; else
    * stage source as a temp table (mirrors the reference's temp-table CTAS —
    * incremental.sql:54-99 — and breaks lineage so strategies may scan the
    * target) then dispatch. Append + unique_key is forbidden
    * (ref incremental.sql:36-38). */
  def incremental(spark: SparkSession, target: TableRef, srcIn: DataFrame,
      strategy: IncrementalStrategy,
      uniqueKey: Seq[String] = Nil,
      partition: PartitionSpec = PartitionSpec.None,
      predicates: Seq[Column] = Nil,
      fullRefresh: Boolean = false,
      onSchemaChange: OnSchemaChange = OnSchemaChange.Ignore): Unit = {
    import IncrementalStrategy._
    if (strategy == Append && uniqueKey.nonEmpty)
      throw new IllegalArgumentException(
        "append strategy forbids unique_key (reference parity: incremental.sql:36-38)")
    val exists = CatalogOps.exists(spark, target)
    if (!exists || fullRefresh) {
      // full refresh of an EXISTING table takes the staged rename-swap —
      // a crash mid-CTAS must leave the previous contents recoverable
      // (same discipline as table())
      val out = AtomicWriter.withPartitionCols(srcIn, partition)
      if (exists) AtomicWriter.overwriteTable(spark, out, target, partition)
      else AtomicWriter.createOrReplace(spark, out, target, partition)
      return
    }
    val srcP = AtomicWriter.withPartitionCols(srcIn, partition)
    // Temp-table staging exists to break lineage when the model reads
    // {{ this }} (the reference always CTASes a temp table). When the source
    // plan does NOT scan the target we skip the staging write entirely —
    // at scale that's one full materialization of the delta saved.
    val scansTarget = {
      val raw = target.ident.unquotedString.toLowerCase
      // analyzed identifiers are database-qualified; an unqualified
      // TableRef must be compared against its current-database form too
      val qualified =
        if (raw.contains(".")) raw
        else s"${spark.catalog.currentDatabase.toLowerCase}.$raw"
      srcP.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation
            if r.catalogTable.exists { ct =>
              val id = ct.identifier.unquotedString.toLowerCase
              id == raw || id == qualified
            } => ()
      }.isDefined
    }
    val tmp = target.copy(name = target.name + "__dbt_tmp")
    // stage BEFORE schema-change processing: sync/append modes rewrite the
    // TARGET, and a target-scanning source plan analyzed pre-rewrite must
    // not execute against post-rewrite files (dropped columns would read
    // as NULL into the delta)
    if (scansTarget) AtomicWriter.createOrReplace(spark, srcP, tmp)
    try {
      val base = if (scansTarget) spark.table(tmp.render) else srcP
      val staged = processSchemaChange(spark, target, base, onSchemaChange,
        partition)
      strategy match {
        case Merge(upd, excl) =>
          Incremental.merge(spark, target, staged, uniqueKey, partition, upd, excl, predicates)
        case DeleteInsert =>
          Incremental.deleteInsert(spark, target, staged, uniqueKey, partition, predicates)
        case Append =>
          Incremental.append(spark, target, staged, partition)
        case InsertOverwrite =>
          Incremental.insertOverwriteDynamic(spark, target, staged, partition)
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS ${tmp.render}")
  }

  /** M10 `materialized_view`: managed table + stored definition + refresh;
    * config-diff decides refresh vs replace (ref _materialized_view.py:98-128,
    * impl.py:113-158). No automatic query rewrite (the reference exposes
    * `disable_rewrite` and we always behave as if it is set). */
  def materializedView(spark: SparkSession, target: TableRef, sql: String,
      tblProperties: Map[String, String] = Map.empty): Unit = {
    AtomicWriter.createOrReplace(spark, spark.sql(sql), target)
    val props = tblProperties + ("graft.mv.query" -> sql)
    val rendered = props.map { case (k, v) =>
      s"'${Fns.sqlStringEscape(k)}'='${Fns.sqlStringEscape(v)}'"
    }.mkString(", ")
    spark.sql(s"ALTER TABLE ${target.render} SET TBLPROPERTIES ($rendered)")
  }

  /** Apply-with-config-diff: decides REFRESH vs REPLACE the way the
    * reference does (impl.py:113-158 — diff the persisted configuration
    * against the requested one; unchanged ⇒ cheap refresh, changed ⇒ drop +
    * recreate). Returns "created" | "refreshed" | "replaced". */
  def materializedViewApply(spark: SparkSession, target: TableRef, sql: String,
      tblProperties: Map[String, String] = Map.empty): String = {
    if (!CatalogOps.exists(spark, target)) {
      materializedView(spark, target, sql, tblProperties); "created"
    } else {
      val props = spark.sql(s"SHOW TBLPROPERTIES ${target.render}")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val sameQuery = props.get("graft.mv.query").contains(sql)
      // diff ONLY the fields we persist; None-vs-unset discipline — a key
      // absent from the request is "leave as is", not "reset"
      // (ref impl.py:120-125)
      val sameProps = tblProperties.forall { case (k, v) => props.get(k).contains(v) }
      if (sameQuery && sameProps) { refreshMaterializedView(spark, target); "refreshed" }
      else { materializedView(spark, target, sql, tblProperties); "replaced" }
    }
  }

  /** `ALTER MATERIALIZED VIEW … REBUILD` equivalent: recompute from the
    * stored definition (ref relations/materialized_view/refresh.sql). */
  def refreshMaterializedView(spark: SparkSession, target: TableRef): Unit = {
    val props = spark.sql(s"SHOW TBLPROPERTIES ${target.render}")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val sql = props.getOrElse("graft.mv.query",
      throw new IllegalStateException(s"${target.render} is not a graft materialized view"))
    AtomicWriter.overwriteTable(spark, spark.sql(sql), target,
      bucketBy = AtomicWriter.currentBucketing(spark, target))
    // the rebuilt table carries NO properties — restore ALL persisted ones
    // (user tblProperties, grants), not just the stored query; losing them
    // would flip materializedViewApply's config-diff to "replaced" forever.
    // Spark-reserved keys cannot be SET back and are managed by the catalog.
    val reserved = Set("owner", "provider", "location", "external")
    val rendered = props.filterNot { case (k, _) => reserved(k) }
      .map { case (k, v) =>
        s"'${Fns.sqlStringEscape(k)}'='${Fns.sqlStringEscape(v)}'"
      }.mkString(", ")
    if (rendered.nonEmpty)
      spark.sql(s"ALTER TABLE ${target.render} SET TBLPROPERTIES ($rendered)")
  }

  /** M12 `raw`: run an arbitrary SQL script verbatim after extracting the
    * `SET k=v;` header into session conf (ref materializations/raw.sql +
    * wrapper.py SettingParser flow). */
  def raw(spark: SparkSession, script: String): DataFrame = {
    val parsed = SettingParser.parse(script)
    parsed.settings.foreach { case (k, v) =>
      // Only spark.* keys are real session conf; engine hints (odps.*) are
      // accepted and ignored, matching the reference's pass-through hints.
      if (k.startsWith("spark.")) spark.conf.set(k, v)
    }
    spark.sql(parsed.remainingQuery)
  }

  /** M13 `clone`: drop target; recreate from source. OSS parquet has no
    * zero-copy clone, so this is a file-level copy via CTAS
    * (ref materializations/clone.sql). */
  def clone(spark: SparkSession, src: TableRef, target: TableRef): Unit =
    AtomicWriter.createOrReplace(spark, spark.table(src.render), target)

  /** M14 `ephemeral`: inline as a (temp) view — composition is lazy by
    * construction in Spark. */
  def ephemeral(spark: SparkSession, name: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(name)

  // ---------------------------------------------------------------- checks

  /** Contract enforcement: declared (name, type) list must equal the plan's
    * schema (ref relations/table/create.sql contract path). */
  def enforceContract(df: DataFrame, declared: Seq[(String, String)]): Unit = {
    val actual = df.schema.map(f => f.name -> f.dataType.simpleString)
    if (actual != declared)
      throw new IllegalArgumentException(
        s"contract violation: declared=$declared actual=$actual")
  }

  /** NOT NULL enforcement on write — Spark file sources don't enforce
    * nullability, so assert before writing (ref ConstraintSupport.ENFORCED,
    * impl.py:70-76). Single column-pruned scan over the violating columns. */
  def enforceNotNull(df: DataFrame, notNullColumns: Seq[String]): Unit =
    if (notNullColumns.nonEmpty) {
      val cond = notNullColumns.map(c => col(c).isNull).reduce(_ || _)
      val bad = df.filter(cond).limit(1).count()
      if (bad > 0) throw new IllegalArgumentException(
        s"NOT NULL constraint violated on one of: ${notNullColumns.mkString(", ")}")
    }
}
