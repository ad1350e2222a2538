package graft.exec

import org.apache.hadoop.fs.{FileStatus, FileSystem => HFileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{col, concat_ws, lit, when}
import graft.catalog.{CatalogOps, PartitionSpec, TableRef}
import graft.functions.Fns

/** All table mutation goes through this writer. OSS parquet has no row-level
  * ACID, so mutation = rewrite-then-swap:
  *
  *  - whole-table ops write a staging table, then swap it in (rename the
  *    old table aside, rename the staging table in, drop the old — a
  *    metadata + file-move operation, no data rewrite);
  *  - partition-scoped ops stage ONLY the touched partitions, then move the
  *    staged partition directories into the target and re-register them in
  *    the catalog — one data pass over the delta, zero passes over the rest
  *    of the table. A 100 TB table with a 3-partition delta rewrites 3
  *    partitions and moves 3 directories.
  *
  * Partitioned writes repartition by the partition columns first so each
  * partition value is written by one task — without this, every task writes
  * a file into every partition it sees (tasks × partitions small files, the
  * classic Spark anti-pattern at scale).
  *
  * Reading from the table being overwritten is illegal in Spark, hence the
  * staging hop: result plans that scan the target are first materialized into
  * `<t>__graft_stg`, breaking lineage before the swap.
  *
  * Ref semantics: transactional-table MERGE/DELETE/UPDATE
  * (reference relations/table/create.sql:44-49, test_core.py:1128-1140)
  * re-expressed as deterministic rewrites.
  */
object AtomicWriter {

  /** Separator joining multi-column partition values in `touched` sets
    * (see [[touchedKeys]]). */
  private[graft] val SEP = "\u0001"

  /** Hive's directory name for the NULL (and empty-string) partition value —
    * what Spark writes on disk and registers in the catalog spec. */
  private[graft] val HiveDefaultPartition =
    ExternalCatalogUtils.DEFAULT_PARTITION_NAME

  /** The ONE canonical encoding of a row's partition values as a touched-set
    * key: each column encoded independently (NULL and '' → the Hive
    * default-partition sentinel, matching what Spark writes on disk), then
    * SEP-joined. Never build touched keys with bare concat_ws — it SKIPS
    * NULLs, truncating multi-column keys and orphaning the NULL partition
    * from the emptied-partition cleanup. */
  private[graft] def partitionKey(values: Seq[Column]): Column =
    concat_ws(SEP, values.map { v =>
      val s = v.cast("string")
      when(s.isNull || s === lit(""), lit(HiveDefaultPartition)).otherwise(s)
    }: _*)

  // staging/old helper names carry a per-operation stamp (same-table
  // concurrency: a fixed name would let writer B's DROP of "the" old table
  // destroy writer A's only copy while A sits between its two renames)

  /** The target's CURRENT bucket spec, for maintenance rewrites (UPDATE/
    * DELETE/snapshot/MV-refresh/schema-sync) that must preserve the
    * table's layout rather than silently recreate it unbucketed. Callers
    * expressing USER intent (Materializer.table) pass their own bucketBy
    * instead. */
  def currentBucketing(spark: SparkSession,
      target: TableRef): Option[(Int, Seq[String])] = {
    if (!CatalogOps.exists(spark, target)) return None
    spark.sessionState.catalog.getTableMetadata(target.ident).bucketSpec
      .map(bs => (bs.numBuckets, bs.bucketColumnNames))
  }

  /** Create-or-replace the table with `df` (CTAS path — target not read). */
  def createOrReplace(spark: SparkSession, df: DataFrame, target: TableRef,
      partition: PartitionSpec = PartitionSpec.None,
      bucketBy: Option[(Int, Seq[String])] = None,
      clusterBy: Seq[Column] = Nil,
      distributeOn: Seq[String] = Nil): Unit = {
    require(bucketBy.isEmpty || clusterBy.isEmpty,
      "createOrReplace: bucketBy carries its own sortBy — clusterBy would fight it")
    val pcols = partition.partitionColumns
    var out = withPartitionCols(df, partition)
    // one writing task per partition value → one file per partition —
    // unless the caller split a hot partition's write across tasks via
    // distribution-only helper columns (Committer.stageAndCommit)
    if (pcols.nonEmpty && bucketBy.isEmpty)
      out = out.repartition((pcols ++ distributeOn).map(col): _*)
    // in-file clustering (see Committer.stageAndCommit): the sort leads
    // with the partition columns, so the dynamic-partition writer's own
    // required ordering is already satisfied — no second sort is inserted
    if (clusterBy.nonEmpty)
      out = out.sortWithinPartitions((pcols.map(col) ++ clusterBy): _*)
    // helpers never reach the table (drop = projection; order survives)
    if (distributeOn.nonEmpty) out = out.drop(distributeOn: _*)
    spark.sql(s"DROP TABLE IF EXISTS ${target.render}")
    var w = out.write.mode(SaveMode.Overwrite).format("parquet")
    if (pcols.nonEmpty) w = w.partitionBy(pcols: _*)
    bucketBy.foreach { case (n, cols) =>
      w = w.bucketBy(n, cols.head, cols.tail: _*).sortBy(cols.head, cols.tail: _*)
    }
    w.saveAsTable(target.render)
  }

  /** Atomically replace `target`'s contents with `df`, where `df` may scan
    * `target` itself (merge/delete rewrites): stages a table, renames the
    * old table ASIDE, swaps the staging in, then drops the old — the
    * target name never dangles unbound for more than the one rename, and
    * a crash mid-swap leaves the data recoverable under `__graft_old`.
    *
    * A failed rename is rolled back before the error is rethrown: the
    * staged copy is dropped, and the old table is renamed back if the
    * target name is still free — or dropped when a concurrent writer's
    * table now holds the name. A rollback step that itself fails raises
    * an error naming the table and `Maintenance.recover`. */
  def overwriteTable(spark: SparkSession, df: DataFrame, target: TableRef,
      partition: PartitionSpec = PartitionSpec.None,
      bucketBy: Option[(Int, Seq[String])] = None): Unit = {
    val existed = CatalogOps.exists(spark, target)
    val stamp = Committer.newStamp()
    // heartbeated writer-presence marker for the WHOLE swap (stage through
    // rename): Maintenance.recover won't sweep this table's stamped
    // rollback artifacts while the marker is fresh, however long the
    // staging write runs (WriterLease — the DedupStore heartbeat shape)
    WriterLease.holding(spark, target, stamp) {
      val stg = target.copy(name = target.name + "__graft_stg_" + stamp)
      val old = target.copy(name = target.name + "__graft_old_" + stamp)
      // bucket spec travels WITH the staged table through the rename (the
      // catalog moves the whole CatalogTable), so bucketed replacements get
      // the same crash-recoverable swap as everything else
      createOrReplace(spark, df, stg, partition, bucketBy)
      var movedAside = false
      try {
        if (existed) {
          spark.sql(s"ALTER TABLE ${target.render} RENAME TO ${old.render}")
          movedAside = true
          repairPartitionLocations(spark, old)
        }
        spark.sql(s"ALTER TABLE ${stg.render} RENAME TO ${target.render}")
      } catch {
        case e: Throwable =>
          try {
            if (movedAside) {
              if (CatalogOps.exists(spark, target))
                spark.sql(s"DROP TABLE IF EXISTS ${old.render}")
              else {
                spark.sql(s"ALTER TABLE ${old.render} RENAME TO ${target.render}")
                repairPartitionLocations(spark, target)
              }
            }
            spark.sql(s"DROP TABLE IF EXISTS ${stg.render}")
          } catch {
            case r: Throwable =>
              val ex = new java.io.IOException(
                s"table swap rollback INCOMPLETE for ${target.render} " +
                  s"(${old.render} / ${stg.render} may remain): ${r.getMessage}" +
                  "; run Maintenance.recover", r)
              ex.addSuppressed(e)
              throw ex
          }
          throw e
      }
      repairPartitionLocations(spark, target)
      if (existed) spark.sql(s"DROP TABLE IF EXISTS ${old.render}")
    }
  }

  /** RENAME moves a managed table's directory but leaves each PARTITION's
    * registered location pointing at the pre-rename path (or, worse,
    * InMemoryCatalog re-points it with an extra percent-encoding level —
    * 'pt=50%25' becomes 'pt=50%2525'). The trustworthy source is the
    * partition SPEC: rebuild each location under the table's current root
    * with Spark's own escaping: every partition lives at `<root>/<specRel>`. */
  private[exec] def repairPartitionLocations(spark: SparkSession,
      ref: TableRef): Unit = {
    val cat = spark.sessionState.catalog
    val ident = ref.ident
    val meta = cat.getTableMetadata(ident)
    if (meta.partitionColumnNames.isEmpty) return
    val root = new HPath(meta.location)
    val parts = cat.listPartitions(ident)
    val fixed = parts.map { p =>
      // getPartitionPathString applies Spark's own escaping and maps
      // null/'' values to the default-partition sentinel; building the URI
      // via Path (not new URI(string)) keeps escaped dir names like
      // 'k=a%3Ab' literal instead of percent-DECODING them into a path
      // that doesn't exist on disk.
      val specRel = meta.partitionColumnNames
        .map(c => ExternalCatalogUtils.getPartitionPathString(c, p.spec(c)))
        .mkString("/")
      p.copy(storage = p.storage.copy(
        locationUri = Some(new HPath(root, specRel).toUri)))
    }
    if (fixed.nonEmpty) cat.alterPartitions(ident, fixed)
  }

  /** Replace ONLY the partitions present in `df`; other partitions of
    * `target` are untouched. One data pass over the delta: `df` is staged
    * and committed by [[Committer.stageAndCommit]] (directory rename
    * swap), then the touched-but-unstaged partitions are emptied.
    *
    * `touched` (SEP-joined partition values, as produced by the callers'
    * touched-partition scan) declares the partitions the operation OWNS:
    * a touched partition with NO staged rows ends up EMPTY (dropped).
    * Without it, a DELETE that empties a whole partition would stage
    * nothing for it and silently leave the old files in place. */
  def overwritePartitions(spark: SparkSession, df: DataFrame, target: TableRef,
      partition: PartitionSpec,
      touched: Option[Set[String]] = None,
      clusterBy: Seq[Column] = Nil,
      distributeOn: Seq[String] = Nil): Unit = {
    require(partition.partitionColumns.nonEmpty, "overwritePartitions needs partition columns")
    require(distributeOn.forall(df.columns.contains),
      s"overwritePartitions: distributeOn ${distributeOn.mkString(",")} " +
        "must be columns of the input frame")
    val pcols = partition.partitionColumns
    // Align to the target layout; the plan may scan the target itself, so
    // the commit stages to a table outside the target's live dirs before
    // any content becomes visible (breaking lineage before the swap).
    // Distribution-only helpers ride along and are dropped by the commit
    // after its repartition.
    val tgtCols = spark.table(target.render).columns
    require(!distributeOn.exists(tgtCols.contains),
      s"overwritePartitions: distributeOn ${distributeOn.mkString(",")} " +
        "collides with target columns")
    val aligned = withPartitionCols(df, partition)
      .select((tgtCols ++ distributeOn).map(col).toIndexedSeq: _*)
    val tgtDir = tableDir(spark, target)
    val fs = fsOf(spark, tgtDir)
    // writer-presence marker (see overwriteTable): fresh marker = recover
    // keeps its hands off this table's stamped staging/trash artifacts
    val commit = WriterLease.holding(spark, target, Committer.newStamp()) {
      Committer.stageAndCommit(spark, aligned, target, partition, tgtDir, fs,
        clusterBy = clusterBy, distributeOn = distributeOn)
    }
    // REFRESH TABLE is needed only when a path Spark may have LISTED
    // before changed underneath it (replaced or deleted partition dirs —
    // the FileStatusCache holds stale listings for those). Brand-new
    // partition dirs were never listed, so an ADD-only overwrite skips it.
    var staleListings = commit.replacedExisting
    // touched-but-not-staged partitions were fully emptied by the
    // operation: drop their registration and files. Staged dir names and
    // touched keys share the partitionKey encoding (NULL/'' → the Hive
    // default-partition sentinel, per column, SEP-joined), so NULL
    // partitions compare equal instead of silently never matching.
    touched.foreach { owned =>
      val stagedValues = commit.rels.map(rel =>
        rel.split("/").map(seg =>
          unescapePathName(seg.split("=", 2)(1))).mkString(SEP)).toSet
      val emptied = owned -- stagedValues
      // a malformed key (wrong arity) must fail loudly, not produce a
      // PARTIAL spec that drops every sibling under a truncated prefix
      emptied.foreach { joined =>
        require(joined.split(SEP, -1).length == pcols.length,
          s"touched key '$joined' has ${joined.split(SEP, -1).length} values " +
            s"for ${pcols.length} partition columns ${pcols.mkString("(", ",", ")")}")
      }
      if (emptied.nonEmpty) {
        val cat = spark.sessionState.catalog
        val ident = target.ident
        val specs = emptied.toSeq.sorted.map { joined =>
          pcols.zip(joined.split(SEP, -1)).toMap
        }
        // resolve the registered locations from the CATALOG before
        // dropping the registration — after DROP the location is gone
        val locations = specs.flatMap(spec =>
          cat.listPartitions(ident, Some(spec))
            .flatMap(_.storage.locationUri).map(new HPath(_)))
        val ddl = specs.map(_.toSeq.sortBy(s => pcols.indexOf(s._1)).map {
          case (c, v) => s"`$c`='${Fns.sqlStringEscape(v)}'"
        }.mkString(", "))
        Retry.withRetries() {
          spark.sql(s"ALTER TABLE ${target.render} DROP IF EXISTS " +
            ddl.map(s => s"PARTITION ($s)").mkString(", "))
        }
        locations.foreach(dir => if (fs.exists(dir)) fs.delete(dir, true))
        staleListings = true
      }
    }
    if (staleListings) spark.sql(s"REFRESH TABLE ${target.render}")
  }

  /** The partitions a row-level write touches: the distinct
    * [[partitionKey]] values of `keys` (a frame carrying the target's
    * partition columns), collected once. None for an unpartitioned target,
    * without running a job, and None past the cap: above it,
    * partition-scoped rewriting stops paying, since the driver-side key set
    * and the isin pruning expression both grow O(|touched|) (an in-list
    * over 10⁵ hourly×tenant partitions is an expression-tree blowup, and
    * the collect bloats the driver); at that point most of the table is
    * touched anyway, and [[rewrite]] swaps the whole table instead.
    * Tunable via `spark.graft.touchedPartitions.cap` (default 5000). */
  def touchedKeys(spark: SparkSession, partition: PartitionSpec,
      keys: DataFrame): Option[Set[String]] = {
    val pcols = partition.partitionColumns
    if (pcols.isEmpty) return None
    val cap = spark.conf.getOption("spark.graft.touchedPartitions.cap")
      .map(_.toInt).getOrElse(5000)
    val got = keys.select(partitionKey(pcols.map(keys(_))).as("p")).distinct()
      .limit(cap + 1).collect().map(_.getString(0))
    if (got.length > cap) None else Some(got.toSet)
  }

  /** Commit a row-level rewrite (merge, delete+insert, DELETE, UPDATE):
    * `rows` is the target's new content for the `touched` partitions, as
    * [[touchedKeys]] returned them. None (unpartitioned, or past the cap)
    * swaps the whole table, keeping its bucket spec; an empty set writes
    * nothing; otherwise only the touched partitions are staged and
    * committed, and a touched partition left without rows is dropped. */
  def rewrite(spark: SparkSession, rows: DataFrame, target: TableRef,
      partition: PartitionSpec, touched: Option[Set[String]]): Unit =
    touched match {
      case None =>
        overwriteTable(spark, rows, target, partition,
          currentBucketing(spark, target))
      case Some(parts) if parts.isEmpty =>
      case Some(parts) =>
        val inTouched =
          partitionKey(partition.partitionColumns.map(col)).isin(parts.toSeq: _*)
        overwritePartitions(spark, rows.filter(inTouched), target, partition,
          Some(parts))
    }

  /** Plain append (`INSERT INTO`), position-based, partition cols last. */
  def append(spark: SparkSession, df: DataFrame, target: TableRef,
      partition: PartitionSpec = PartitionSpec.None): Unit = {
    val tgtCols = spark.table(target.render).columns
    var out = withPartitionCols(df, partition)
      .select(tgtCols.map(col).toIndexedSeq: _*)
    val pcols = partition.partitionColumns
    if (pcols.nonEmpty) out = out.repartition(pcols.map(col): _*)
    out.write.mode(SaveMode.Append).insertInto(target.render)
  }

  /** Inject the generated auto-partition column if the spec calls for one
    * (engine-side `trunc_time`; ref relations/partition.sql:4-9). */
  def withPartitionCols(df: DataFrame, partition: PartitionSpec): DataFrame =
    partition match {
      case a: PartitionSpec.Auto if !df.columns.contains(a.genCol) =>
        df.withColumn(a.genCol, a.genExpr(df))
      case _ => df
    }

  // ------------------------------------------------------------------ files
  // All file manipulation goes through the Hadoop FileSystem API, not
  // java.io.File: on HDFS-like stores a directory rename is a pure metadata
  // operation, which is what makes the rename-committed partition swap
  // O(partitions) instead of O(data) at 100 TB. The swap assumes that
  // atomic rename (see Committer.scala); object stores that emulate
  // rename by copy+delete are not a supported target.

  private[exec] def tableDir(spark: SparkSession, ref: TableRef): HPath = {
    val meta = spark.sessionState.catalog.getTableMetadata(ref.ident)
    new HPath(meta.location)
  }

  private def fsOf(spark: SparkSession, p: HPath): HFileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** The one data-file rule, Spark's hidden-file filter: `_`- and
    * `.`-prefixed entries (`_SUCCESS`, checksums, the committer's
    * `._graft_swap_*` ownership markers, layout sidecars) are not data. */
  private[graft] def isDataFile(st: FileStatus): Boolean = {
    val name = st.getPath.getName
    st.isFile && !name.startsWith("_") && !name.startsWith(".")
  }

  /** Relative `k1=v1[/k2=v2…]` paths of all leaf partition dirs. */
  private[exec] def partitionDirs(fs: HFileSystem, root: HPath,
      depth: Int): Seq[String] = {
    def walk(dir: HPath, d: Int): Seq[String] = {
      val subs =
        try fs.listStatus(dir).toSeq
        catch { case _: java.io.FileNotFoundException => Nil }
      subs.filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap { s =>
          if (d == 1) Seq(s.getPath.getName)
          else walk(s.getPath, d - 1).map(s.getPath.getName + "/" + _)
        }
    }
    walk(root, depth)
  }

  /** `k1=v1/k2=v2` → ``k1`='v1', `k2`='v2'` (hive-unescaped). */
  private[exec] def specOf(rel: String): String =
    rel.split("/").map { seg =>
      val Array(k, v) = seg.split("=", 2)
      val uv = Fns.sqlStringEscape(unescapePathName(v))
      s"`$k`='$uv'"
    }.mkString(", ")

  /** Spark/Hive's own dir-name unescaping — NOT a home-grown variant:
    * Spark leaves space/'+'/etc. literal and only ever emits 2-hex %XX
    * sequences, so anything else round-trips wrongly against dirs Spark
    * itself wrote. */
  private[exec] def unescapePathName(s: String): String =
    ExternalCatalogUtils.unescapePathName(s)

}
