package graft.exec

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.compile.DbtCompiler
import graft.core.{Introspection, Manifest, NodeFilters, NodeMeta}
import graft.project.ProjectLoader.Project

/** Model build + ad-hoc SQL execution (A34/A35): compile each model's
  * Jinja to Spark SQL and materialize it in dependency order.
  *
  * Materializations:
  *  - `view`      → `createOrReplaceTempView` (logical only; Catalyst
  *                  inlines it, so downstream models optimize through)
  *  - `table`     → parquet write + view over the files (a real
  *                  materialization barrier, like a warehouse table;
  *                  at cluster scale this is the save-point where
  *                  partitioning/bucketing is chosen)
  *  - `ephemeral` → temp view as well; result-equivalent to dbt's CTE
  *                  inlining because Catalyst merges view subqueries
  *                  into the consuming plan
  *
  * Seeds load via `spark.read.csv(header, inferSchema)` — the same
  * semantics as the reference fixture pipeline (`dbt seed`,
  * tests/conftest.py:29-38).
  */
final class ModelExecutor(spark: SparkSession, project: Project,
    workDir: Option[String] = None) {

  private var manifestVar: Manifest = project.manifest
  def manifest: Manifest = manifestVar

  /** The executor's session — the SQL proxy needs the SparkContext
    * for job-group cancellation of in-flight proxy queries.
    */
  private[graft] def session: SparkSession = spark

  private lazy val tableDir: String =
    workDir.getOrElse(Files.createTempDirectory("graft_tables").toString)

  def seed(node: NodeMeta): Unit = {
    val path = project.root.resolve(node.path).toString
    spark.read.option("header", "true").option("inferSchema", "true")
      .csv(path).createOrReplaceTempView(node.name)
    Introspection.invalidate(node.name)
  }

  private def relationDir(node: NodeMeta): java.nio.file.Path =
    java.nio.file.Paths.get(s"$tableDir/${node.name}")

  private def relationExists(node: NodeMeta): Boolean =
    Files.isDirectory(relationDir(node)) && {
      val s = Files.list(relationDir(node))
      try s.findFirst().isPresent finally s.close()
    }

  /** Compile one node's SQL against the current manifest, updating its
    * compiled code + dependency edges. Incremental models are compiled
    * twice on incremental runs: the first pass discovers the
    * materialization from the in-file config, the second renders with
    * `is_incremental() = true` and `{{ this }}` bound (dbt semantics —
    * the flag is decided by whether the relation already exists).
    */
  /** Project macros prepended so every model sees them (dbt global
    * macro namespace); definitions render to empty text.
    */
  private def withMacros(raw: String): String =
    if (project.macroPrologue.isEmpty) raw
    else project.macroPrologue + "\n" + raw

  def compile(node: NodeMeta): NodeMeta = {
    var compiled = DbtCompiler.compile(withMacros(node.rawCode), manifestVar, project.vars)
    val materialized = compiled.config.get("materialized").map(_.toString)
      .getOrElse(node.materialized)
    val fullRefresh = compiled.config.get("full_refresh").exists(asBool)
    if (materialized == "incremental" && relationExists(node) && !fullRefresh)
      compiled = DbtCompiler.compile(withMacros(node.rawCode), manifestVar, project.vars,
        incremental = true, thisRelation = Some(node.name))
    val updated = node.copy(
      compiledCode = Some(compiled.sql),
      deps = (node.deps ++ compiled.refs ++
        compiled.sources.map { case (s, t) => s"source.${project.name}.$s.$t" }).distinct,
      materialized = materialized,
      config = node.config ++ compiled.config)
    manifestVar = manifestVar.updated(updated)
    updated
  }

  /** `partition_by` config (dbt-spark semantics): a column name or a
    * list of them. Table/incremental relations are laid out
    * hive-partitioned on these columns, so downstream reads
    * partition-prune — the save-point layout choice the `table`
    * materialization doc above promises.
    */
  private def partitionCols(node: NodeMeta): Seq[String] =
    node.config.get("partition_by") match {
      case Some(s: String) => Seq(s)
      case Some(xs: Seq[_]) => xs.map(_.toString)
      case _ => Nil
    }

  /** `file_format` config (dbt-spark semantics): parquet (default),
    * orc, json, or csv. Parquet/ORC are the typed columnar formats a
    * warehouse relation should live in; JSON/CSV are export-grade
    * (CSV round-trips through header + schema inference, so exotic
    * types may widen — same caveat dbt-spark documents).
    */
  private def relationFormat(node: NodeMeta): String =
    node.config.get("file_format").map(_.toString.toLowerCase)
      .getOrElse("parquet") match {
      case f @ ("parquet" | "orc" | "json" | "csv") => f
      case other =>
        throw new IllegalArgumentException(
          s"${node.uniqueId}: unsupported file_format '$other' " +
            "(parquet|orc|json|csv)")
    }

  private def writeRelation(df: DataFrame, node: NodeMeta, path: String,
      mode: String): Unit = {
    val fmt = relationFormat(node)
    val w0 = df.write.mode(mode).format(fmt)
    val w = if (fmt == "csv") w0.option("header", "true") else w0
    val pc = partitionCols(node)
    (if (pc.isEmpty) w else w.partitionBy(pc: _*)).save(path)
  }

  /** Read a materialized relation back in its declared format. */
  private def readRelation(node: NodeMeta, path: String): DataFrame = {
    val fmt = relationFormat(node)
    val r = spark.read.format(fmt)
    (if (fmt == "csv") r.option("header", "true").option("inferSchema", "true")
     else r).load(path)
  }

  def materialize(node: NodeMeta): Unit = {
    val sql = node.compiledCode.getOrElse(
      throw new IllegalStateException(s"${node.uniqueId} not compiled"))
    node.materialized match {
      case "table" =>
        val path = s"$tableDir/${node.name}"
        writeRelation(spark.sql(sql), node, path, "overwrite")
        readRelation(node, path).createOrReplaceTempView(node.name)
      case "incremental" =>
        materializeIncremental(node, sql)
      case "snapshot" =>
        materializeSnapshot(node, sql)
      case _ => // view | ephemeral
        spark.sql(sql).createOrReplaceTempView(node.name)
    }
    // the relation is new, so its cached columns are stale
    Introspection.invalidate(node.name)
  }

  /** dbt snapshot (SCD2) materialization — the dataflow lives in
    * [[graft.operators.Scd2]]; this dispatch resolves the dbt config
    * surface (strategy, unique_key, updated_at / check_cols,
    * invalidate_hard_deletes) and drives the same first-run /
    * merge-run split incremental models use, swapped in atomically.
    * `snapshot_at` (a SQL expression, e.g. `TIMESTAMP '2024-01-02'`)
    * overrides the run stamp for deterministic replays; it defaults
    * to `current_timestamp()` — dbt's behavior.
    */
  private def materializeSnapshot(node: NodeMeta, sql: String): Unit = {
    import org.apache.spark.sql.functions.{expr, lit}
    import graft.operators.Scd2
    val uid = node.uniqueId
    val key = node.config.get("unique_key").map(_.toString).getOrElse(
      throw new IllegalArgumentException(s"$uid: snapshot requires unique_key"))
    val strategy = node.config.get("strategy").map(_.toString)
      .getOrElse("timestamp")
    val invalidate = node.config.get("invalidate_hard_deletes").exists(asBool)
    // dbt guarantees ONE run stamp per snapshot run. A non-deterministic
    // expression (the current_timestamp() default) would otherwise
    // evaluate in two separate jobs — the closed side's checkpoint at
    // T1 and the insert write at T2 — so closed.valid_to would no
    // longer equal the successor's valid_from and as-of queries in
    // (T1, T2] would find no row. Resolve it to a driver-side literal
    // once; every branch of the merge shares the value.
    val stampDf = spark.range(1).select(
      expr(node.config.get("snapshot_at").map(_.toString)
        .getOrElse("current_timestamp()")).as("__stamp"))
    val stampType = stampDf.schema.head.dataType
    val runStamp = lit(stampDf.collect()(0).get(0)).cast(stampType)
    val path = relationDir(node)
    val batch = spark.sql(sql)
    strategy match {
      case "timestamp" =>
        val upd = node.config.get("updated_at").map(_.toString).getOrElse(
          throw new IllegalArgumentException(
            s"$uid: timestamp strategy requires updated_at"))
        if (!relationExists(node))
          writeRelation(Scd2.firstSnapshotTimestamp(batch, key, upd),
            node, path.toString, "overwrite")
        else {
          val old = readRelation(node, path.toString)
          swapIn(Scd2.snapshotMergeTimestamp(old, batch, key, upd,
            invalidate, Some(runStamp)), node, path)
        }
      case "check" =>
        val checkCols = node.config.get("check_cols") match {
          case Some("all") => batch.columns.toSeq.filterNot(_ == key)
          case Some(xs: Seq[_]) => xs.map(_.toString)
          case Some(c: String) => Seq(c)
          case _ => throw new IllegalArgumentException(
            s"$uid: check strategy requires check_cols (list or 'all')")
        }
        if (!relationExists(node))
          writeRelation(Scd2.firstSnapshotCheck(batch, key, runStamp),
            node, path.toString, "overwrite")
        else {
          val old = readRelation(node, path.toString)
          swapIn(Scd2.snapshotMergeCheck(old, batch, key, checkCols,
            runStamp, invalidate), node, path)
        }
      case other => throw new IllegalArgumentException(
        s"$uid: unsupported snapshot strategy '$other' (timestamp|check)")
    }
    readRelation(node, path.toString).createOrReplaceTempView(node.name)
  }

  /** Incremental materialization (dbt semantics):
    *  - first run (relation absent): full write, like `table`.
    *  - later runs: register the EXISTING relation as the view first
    *    (so `{{ this }}` and self-refs read the old data), run the
    *    compiled SQL, then apply the strategy from config:
    *      - `append` (default): append the new rows.
    *      - `unique_key` set: merge — old rows whose key appears in
    *        the new batch are replaced (anti-join + union, written to
    *        a staging dir and swapped in; on a cluster this is a
    *        Delta MERGE or partition-level insert-overwrite — the
    *        dataflow, an anti-join on the key, is the same).
    */
  private def asBool(v: Any): Boolean = v match {
    case b: Boolean => b
    case s: String => s.equalsIgnoreCase("true")
    case _ => false
  }

  /** Project `df` onto `cols`, typing absent columns as null with the
    * dtype `other` declares for them (on_schema_change alignment).
    */
  private def projectTo(df: DataFrame, cols: Seq[String],
      other: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    df.select(cols.map { name =>
      if (df.columns.contains(name)) col(name)
      else lit(null).cast(other.schema(name).dataType).as(name)
    }: _*)
  }

  /** dbt `on_schema_change` semantics when an incremental batch's
    * columns differ from the stored relation's:
    *  - ignore (default): batch is projected onto the RELATION's
    *    columns (new columns dropped, missing ones null)
    *  - append_new_columns: relation gains the batch's new columns
    *    (null for existing rows); removed columns are kept
    *  - sync_all_columns: the BATCH's columns win — new added,
    *    removed dropped
    *  - fail: refuse the run
    * Returns (old, batch) on a common schema.
    */
  private def alignSchemas(old: DataFrame, batch: DataFrame, mode: String,
      uid: String): (DataFrame, DataFrame) = {
    val oldCols = old.columns.toSeq
    val newCols = batch.columns.toSeq
    if (oldCols == newCols) (old, batch)
    else mode match {
      case "ignore" => (old, projectTo(batch, oldCols, old))
      case "append_new_columns" =>
        val all = oldCols ++ newCols.filterNot(oldCols.contains)
        (projectTo(old, all, batch), projectTo(batch, all, old))
      case "sync_all_columns" => (projectTo(old, newCols, batch), batch)
      case "fail" =>
        throw new IllegalStateException(
          s"$uid: schema changed (on_schema_change=fail): " +
            s"relation $oldCols vs batch $newCols")
      case other =>
        throw new IllegalArgumentException(
          s"$uid: unsupported on_schema_change '$other'")
    }
  }

  /** Atomic relation replacement: staging write, then move the old
    * relation ASIDE, staging in, delete the old copy — a crash
    * mid-swap leaves either the old or the new relation recoverable
    * on disk, never neither.
    */
  private def swapIn(df: DataFrame, node: NodeMeta,
      path: java.nio.file.Path): Unit = {
    val staging = java.nio.file.Paths.get(path.toString + "__staging")
    writeRelation(df, node, staging.toString, "overwrite")
    val retired = java.nio.file.Paths.get(path.toString + "__retired")
    deleteRecursively(retired) // leftover from a prior crash
    Files.move(path, retired)
    Files.move(staging, path)
    deleteRecursively(retired)
  }

  private def materializeIncremental(node: NodeMeta, sql: String): Unit = {
    val path = relationDir(node)
    if (node.config.get("full_refresh").exists(asBool) && relationExists(node)) {
      // rebuild THROUGH swapIn: the live relation stays readable (and
      // queryable by the batch itself) until the staging write
      // completes — delete-then-write would leave no relation on disk
      // for the whole rebuild and nothing recoverable on a crash
      readRelation(node, path.toString).createOrReplaceTempView(node.name)
      swapIn(spark.sql(sql), node, path)
    } else if (!relationExists(node)) {
      writeRelation(spark.sql(sql), node, path.toString, "overwrite")
    } else {
      readRelation(node, path.toString).createOrReplaceTempView(node.name)
      val batch0 = spark.sql(sql)
      val old0 = readRelation(node, path.toString)
      val mode = node.config.get("on_schema_change").map(_.toString)
        .getOrElse("ignore")
      val changed = old0.columns.toSeq != batch0.columns.toSeq
      val (old, batch) = alignSchemas(old0, batch0, mode, node.uniqueId)
      val strategy = node.config.get("incremental_strategy").map(_.toString)
      (strategy, node.config.get("unique_key").map(_.toString)) match {
        case (Some("insert_overwrite"), _) =>
          // dbt-spark's partition-level overwrite: replace exactly the
          // partitions the batch produced, leave every other partition
          // untouched — the 100 TB reprocessing pattern (backfill one
          // day, never rewrite the table). Requires partition_by; the
          // dataflow is an anti-join on the partition key tuple +
          // union + swap, which is what dynamic partition overwrite
          // performs storage-side on a cluster.
          val pc = partitionCols(node)
          if (pc.isEmpty) throw new IllegalArgumentException(
            s"${node.uniqueId}: insert_overwrite requires partition_by")
          import org.apache.spark.sql.functions.col
          val kept = old.join(batch.select(pc.map(col): _*).distinct(),
            pc, "left_anti")
          swapIn(kept.unionByName(batch.select(old.columns.map(col): _*)),
            node, path)
        case (Some(other), _) if other != "append" && other != "merge" =>
          throw new IllegalArgumentException(
            s"${node.uniqueId}: unsupported incremental_strategy '$other'")
        case (Some("append"), Some(_)) =>
          // dbt adapters reject this combination: append never reads
          // the target, so a unique_key would be silently ignored (or
          // worse, silently deduplicated) — fail loudly instead
          throw new IllegalArgumentException(
            s"${node.uniqueId}: incremental_strategy 'append' cannot be " +
              "used with unique_key (use 'merge')")
        case (_, Some(key)) =>
          val merged = old.join(batch.select(key).distinct(), Seq(key), "left_anti")
            .unionByName(batch.select(old.columns.map(org.apache.spark.sql.functions.col): _*))
          swapIn(merged, node, path)
        case (_, None) if !changed =>
          writeRelation(batch, node, path.toString, "append")
        case (_, None) =>
          // schema evolved: parquet/orc appends with mixed schemas read
          // back inconsistently, so rewrite the relation on the merged
          // schema instead of appending
          swapIn(old.unionByName(batch), node, path)
      }
    }
    readRelation(node, path.toString).createOrReplaceTempView(node.name)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p)) {
      val s = Files.walk(p)
      val paths = try s.iterator().asScala.toSeq finally s.close()
      paths.reverse.foreach(Files.delete)
    }
  }

  /** Full project build: seeds first, then models in topological
    * order (compile → resolve deps → Kahn sort → materialize).
    * Returns the build order.
    */
  /** Source relations are warehouse-owned; when one is absent in the
    * session (tests/demos), register an empty relation with the
    * declared schema so downstream models still analyze and build.
    * Pre-registered views (the real data path) are never clobbered.
    */
  def ensureSource(node: NodeMeta): Unit =
    if (!spark.catalog.tableExists(node.name)) {
      import org.apache.spark.sql.types._
      val fields = node.columns.values.toSeq.map { c =>
        val dt = c.dataType.flatMap(d =>
          scala.util.Try(DataType.fromDDL(d)).toOption).getOrElse(StringType)
        StructField(c.name, dt)
      }
      val schema = if (fields.nonEmpty) StructType(fields)
                   else StructType(Seq(StructField("__empty", StringType)))
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        .createOrReplaceTempView(node.name)
    }

  def buildAll(): Seq[String] = {
    // dbt-loom-injected nodes resolve refs but are the OTHER
    // project's to build — their relations must already exist in the
    // session (built by that project's executor), like dbt defer
    val seeds = manifestVar.nodes.values
      .filter(n => n.resourceType == "seed" && !n.isLoomInjected).toSeq
    seeds.foreach(seed)
    manifestVar.nodes.values.filter(_.resourceType == "source").foreach(ensureSource)

    // two-phase: compile everything (collecting dep edges), then sort + run
    val models = manifestVar.nodes.values
      .filter(n => n.resourceType == "model" && !n.isLoomInjected).toSeq
    val compiled = models.map(compile)
    val ordered = NodeFilters.topologicalSort(
      compiled.map(n => manifestVar.get(n.uniqueId).get))
    ordered.foreach(materialize)
    // singular tests compile (full ref/source Jinja) but never
    // materialize — TestRunner executes their SQL on demand
    manifestVar.nodes.values.filter(_.resourceType == "test").foreach(compile)
    seeds.map(_.uniqueId) ++ ordered.map(_.uniqueId)
  }

  /** Ad-hoc compile+run (reference `execute_sql_code`,
    * core/sql_operations.py:60-71): render Jinja if present, then hand
    * to Catalyst.
    */
  def executeSql(raw: String): DataFrame = {
    val sql = if (graft.compile.Jinja.hasJinja(raw))
      DbtCompiler.compile(withMacros(raw), manifestVar, project.vars).sql
    else raw
    spark.sql(sql)
  }

  /** Session-scoped manifest metadata update — the SQL proxy's ALTER
    * TABLE … COMMENT middleware mutates descriptions in memory only,
    * never the YAML on disk (reference sql/proxy.py:75-110).
    */
  def updateNode(node: graft.core.NodeMeta): Unit = {
    manifestVar = manifestVar.updated(node)
  }
}
