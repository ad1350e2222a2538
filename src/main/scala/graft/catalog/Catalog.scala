package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Three-part relation name, rendered with backtick quoting.
  * Ref model: dbt/adapters/maxcompute/relation.py:15-54 (project aliases
  * database; all parts included). Spark's session catalog is two-level, so
  * `database`+`schema` collapse to one namespace `database_schema`. */
final case class TableRef(database: Option[String], name: String) {
  def render: String = database match {
    case Some(db) => s"`$db`.`$name`"
    case None     => s"`$name`"
  }
  /** The session catalog's identifier for this relation. */
  def ident: TableIdentifier = TableIdentifier(name, database)
  override def toString: String = render
}

object TableRef {
  /** Parse `db.table` or `project.schema.table` — the three-part reference
    * form collapses `project`+`schema` into the one Spark namespace
    * `project_schema` (see class doc). Splitting any other way would leave
    * a dot INSIDE the quoted table identifier, silently addressing a
    * different relation than `exists()`/DDL paths resolve. */
  def apply(name: String): TableRef = name.split("\\.", -1) match {
    case Array(n) => TableRef(None, n)
    case Array(db, n) => TableRef(Some(db), n)
    case Array(project, schema, n) => TableRef(Some(s"${project}_$schema"), n)
    case parts => throw new IllegalArgumentException(
      s"relation name has ${parts.length} parts (max 3): $name")
  }
}

sealed trait RelationType
object RelationType {
  case object Table extends RelationType
  case object View extends RelationType
  case object MaterializedView extends RelationType
}

/** Partitioning model: static column partitions vs auto (generated,
  * time-truncated) partitions. Ref: relation_configs/_partition.py:18-85 +
  * macros/materializations/relations/partition.sql.
  *
  * - Static: partition columns are separate, declared `(field type, ...)`.
  * - Auto: exactly one temporal source column; partition value is
  *   `date_trunc(granularity, col)` materialized as a generated column
  *   (default name `<col>_trunc`, overridable). Only ONE auto field allowed.
  */
sealed trait PartitionSpec {
  def partitionColumns: Seq[String]
}
object PartitionSpec {
  case object None extends PartitionSpec { val partitionColumns = Nil }

  final case class Static(fields: Seq[(String, String)]) extends PartitionSpec {
    def partitionColumns: Seq[String] = fields.map(_._1)
  }

  final case class Auto(
      sourceColumn: String,
      granularity: String, // year | month | day | hour
      generateColumnName: Option[String] = scala.None) extends PartitionSpec {
    require(Seq("year", "month", "day", "hour").contains(granularity.toLowerCase),
      s"auto partition granularity must be year/month/day/hour, got $granularity")
    def genCol: String = generateColumnName.getOrElse(s"${sourceColumn}_trunc")
    def partitionColumns: Seq[String] = Seq(genCol)
    /** The generate-expression injected at write time (engine-side equivalent
      * of MaxCompute's `trunc_time(col, granularity)`). */
    def genExpr(df: DataFrame): org.apache.spark.sql.Column =
      date_format(date_trunc(granularity, col(sourceColumn)), granularity.toLowerCase match {
        case "year"  => "yyyy"
        case "month" => "yyyy-MM"
        case "day"   => "yyyy-MM-dd"
        case "hour"  => "yyyy-MM-dd HH"
      })
  }
}

/** Catalog/metadata operators (reference `impl.py` Python layer → Spark
  * catalog API). All operations are metadata-only (no jobs). */
object CatalogOps {

  // NOTE: the quoted render is passed VERBATIM to the catalog API (which
  // parses backticks) — stripping the quotes would break any identifier
  // that needs them (`my-table`) and, for a dotted name, re-split it into
  // a different relation than the DDL paths address.
  def exists(spark: SparkSession, ref: TableRef): Boolean =
    spark.catalog.tableExists(ref.render)

  def listRelations(spark: SparkSession, db: String): Seq[String] =
    spark.catalog.listTables(db).collect().toSeq.map(_.name)

  def listSchemas(spark: SparkSession): Seq[String] =
    spark.catalog.listDatabases().collect().toSeq.map(_.name)

  def createSchema(spark: SparkSession, db: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")

  /** Drop schema = cascade-drop all relations (ref impl.py:217-248). */
  def dropSchema(spark: SparkSession, db: String): Unit =
    spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")

  def dropRelation(spark: SparkSession, ref: TableRef): Unit = {
    val fq = ref.render
    val isView = try {
      spark.catalog.getTable(fq).tableType == "VIEW"
    } catch { case _: Exception => false }
    if (isView) spark.sql(s"DROP VIEW IF EXISTS $fq")
    else spark.sql(s"DROP TABLE IF EXISTS $fq")
  }

  def rename(spark: SparkSession, from: TableRef, to: TableRef): Unit =
    spark.sql(s"ALTER TABLE ${from.render} RENAME TO ${to.render}")

  def truncate(spark: SparkSession, ref: TableRef): Unit =
    spark.sql(s"TRUNCATE TABLE ${ref.render}")

  /** Data columns + non-auto partition columns, EXCLUDING generated
    * auto-partition columns (ref impl.py:197-215 + its unit test). */
  def getColumnsInRelation(spark: SparkSession, ref: TableRef,
      partition: PartitionSpec): Seq[(String, String)] = {
    val all = spark.table(ref.render).schema
      .map(f => f.name -> f.dataType.simpleString)
    partition match {
      case a: PartitionSpec.Auto => all.filterNot(_._1 == a.genCol)
      case _ => all
    }
  }

  /** Dry-run schema of arbitrary SQL — analysis only, no execution
    * (ref impl.py:403-412 get_column_schema_from_query). */
  def schemaOfQuery(spark: SparkSession, sql: String): Seq[(String, String)] =
    spark.sql(sql).schema.map(f => f.name -> f.dataType.simpleString)

  /** `explain`-based validation: parse+analyze without executing
    * (ref utils/validate_sql.sql, impl.py:430-433). */
  def validateSql(spark: SparkSession, sql: String): Either[String, Unit] =
    try { spark.sql(sql).queryExecution.analyzed; Right(()) }
    catch { case e: Exception => Left(e.getMessage) }

  /** SQL LIKE pattern (`%`/`_`) → relation matching over listTables
    * (ref impl.py:671-724). */
  def matchRelations(spark: SparkSession, db: String, likePattern: String): Seq[String] = {
    val rx = ("(?i)^" + java.util.regex.Pattern.quote(likePattern)
      .replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q") + "$").r
    listRelations(spark, db).filter(n => rx.findFirstIn(n).isDefined)
  }

  /** Comments persist via table properties (ref impl.py:629-669). */
  def setTableComment(spark: SparkSession, ref: TableRef, comment: String): Unit =
    spark.sql(s"ALTER TABLE ${ref.render} SET TBLPROPERTIES ('comment'='${Fns.sqlStringEscape(comment)}')")

  /** Column comments (ref persist_docs.sql:1-25). */
  def setColumnComment(spark: SparkSession, ref: TableRef, column: String,
      comment: String): Unit =
    spark.sql(s"ALTER TABLE ${ref.render} ALTER COLUMN `$column` " +
      s"COMMENT '${Fns.sqlStringEscape(comment)}'")

  def getColumnComments(spark: SparkSession, ref: TableRef): Map[String, String] =
    spark.catalog.listColumns(ref.render).collect()
      .flatMap(c => Option(c.description).map(c.name -> _)).toMap

  /** Catalog crawl for docs generation: one row per table with database,
    * name, type, comment, column list (ref impl.py:299-374). Metadata-only. */
  def crawl(spark: SparkSession, db: String): DataFrame = {
    import spark.implicits._
    spark.catalog.listTables(db).collect().toSeq.map { t =>
      val fq = (Option(t.database).toSeq :+ t.name).mkString(".")
      val cols = spark.catalog.listColumns(fq).collect()
        .map(c => s"${c.name}:${c.dataType}").mkString(",")
      (Option(t.database).getOrElse(""), t.name, t.tableType,
        Option(t.description).getOrElse(""), cols)
    }.toDF("table_database", "table_name", "table_type", "table_comment", "columns")
  }

  /** Source freshness from table metadata: newest file mtime under the
    * table's storage (ref impl.py:447-462 last_data_modified_time). */
  def lastModified(spark: SparkSession, ref: TableRef): Option[java.sql.Timestamp] = {
    val ident = spark.sessionState.sqlParser
      .parseTableIdentifier(ref.render)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    def newest(p: org.apache.hadoop.fs.Path): Long = {
      val stats =
        try fs.listStatus(p)
        catch { case _: java.io.FileNotFoundException => Array.empty }
      stats.map(s =>
        if (s.isFile) s.getModificationTime else newest(s.getPath))
        .foldLeft(0L)(math.max)
    }
    val t = newest(loc)
    if (t == 0L) None else Some(new java.sql.Timestamp(t))
  }

  /** Grants shim: no ACL in OSS Spark; persist the grant config as table
    * properties so the diff-based apply logic stays observable
    * (ref impl.py:509-558). */
  def applyGrants(spark: SparkSession, ref: TableRef, grants: Map[String, Seq[String]]): Unit = {
    // DIFF-based, like the reference: grants absent from the new config are
    // REVOKED (their property unset) — otherwise revocation would be a
    // silent no-op and stale privileges would persist forever
    val existing = spark.sql(s"SHOW TBLPROPERTIES ${ref.render}").collect()
      .map(_.getString(0)).filter(_.startsWith("graft.grant."))
      .map(_.stripPrefix("graft.grant.")).toSet
    val stale = existing -- grants.keySet
    if (stale.nonEmpty)
      spark.sql(s"ALTER TABLE ${ref.render} UNSET TBLPROPERTIES (" +
        stale.map(p => s"'graft.grant.${Fns.sqlStringEscape(p)}'").mkString(", ") + ")")
    val rendered = grants.map { case (priv, users) =>
      s"'graft.grant.${Fns.sqlStringEscape(priv)}'='${Fns.sqlStringEscape(users.mkString(","))}'"
    }.mkString(", ")
    if (rendered.nonEmpty)
      spark.sql(s"ALTER TABLE ${ref.render} SET TBLPROPERTIES ($rendered)")
  }
}
