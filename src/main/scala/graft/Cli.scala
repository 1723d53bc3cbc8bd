package graft

import org.apache.spark.sql.SparkSession

import graft.exec.ModelExecutor
import graft.project.ProjectLoader

/** Command-line surface mirroring the reference CLI groups
  * (cli/main.py): `build` a project, `run-sql` for ad-hoc
  * jinja-SQL execution, `inherit` to run the metadata pipeline.
  *
  * Usage:
  *   sbt "runMain graft.Cli build <projectDir>"
  *   sbt "runMain graft.Cli run-sql <projectDir> <sql>"
  *   sbt "runMain graft.Cli inherit <projectDir>"
  */
object Cli {
  private def session(): SparkSession = {
    // shared execution-layer defaults — see SessionDefaults (this is
    // the session the serve plane inherits via ModelExecutor)
    val s = SessionDefaults(SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Project-aware settings: supplementary `dbt-osmosis.yml` loaded
    * from the project root (level 7 of the resolution chain), project
    * vars as level 8, and the YAML dialect following Fusion-manifest
    * detection (A3).
    */
  private[graft] def settingsFor(project: ProjectLoader.Project,
      base: graft.core.EngineSettings = graft.core.EngineSettings()): graft.core.EngineSettings = {
    val merged = graft.core.EngineSettings.withSupplementary(base, project.root)
      .copy(vars = project.vars ++ base.vars)
    // fusion dialect = manifest detection OR explicit configuration
    // (dbt-osmosis.yml / project vars / typed setting) — detection
    // alone must not silently override a `fusion-compat: true`.
    val configured = graft.core.SettingsResolver.resolveBool(
      graft.core.Setting.FusionCompat, fallback = merged.fusionCompat, merged, None, None)
    merged.copy(fusionCompat = configured || project.fusionManifest)
  }

  /** Shared flags of the yaml-plane commands (reference yaml_opts +
    * the refactor/document option matrix, cli/main.py:243-330 and
    * :328-490): positional MODEL selectors (exact file, directory
    * prefix, or node name), `--fqn <pattern>` (repeatable), run-mode
    * toggles (`--dry-run`, `--check`, `--auto-apply`,
    * `--synthesize`), the inheritance family, and the column/dtype
    * output family. Booleans land in the same typed
    * [[graft.core.EngineSettings]] fields the per-node settings chain
    * resolves against, so node/column-level config still overrides a
    * CLI default exactly like the reference's 9-level chain.
    */
  private[graft] final case class YamlFlags(
      fqns: Seq[String] = Nil,
      models: Seq[String] = Nil,
      dryRun: Boolean = false,
      check: Boolean = false,
      autoApply: Boolean = false,
      synthesize: Boolean = false,
      forceInheritDescriptions: Boolean = false,
      skipInheritDescriptions: Boolean = false,
      useUnrenderedDescriptions: Boolean = false,
      skipAddColumns: Boolean = false,
      skipAddDataTypes: Boolean = false,
      skipAddTags: Boolean = false,
      skipMergeMeta: Boolean = false,
      skipInheritanceForMetaKeys: Seq[String] = Nil,
      addInheritanceForSpecifiedKeys: Seq[String] = Nil,
      addProgenitorToMeta: Boolean = false,
      numericPrecisionAndScale: Boolean = false,
      stringLength: Boolean = false,
      outputToLower: Boolean = false,
      outputToUpper: Boolean = false,
      /** include dbt-loom-injected cross-project nodes as transform
        * candidates (reference --include-external). */
      includeExternal: Boolean = false) {

    /** Fold the flag matrix into engine settings. `skip-add-columns`
      * has no typed field (it resolves through the string-keyed
      * chain), so it rides `vars` at the CLI level — level 8, still
      * overridable per node/column.
      */
    def applyTo(s: graft.core.EngineSettings): graft.core.EngineSettings = {
      val out = s.copy(
        forceInheritDescriptions = s.forceInheritDescriptions || forceInheritDescriptions,
        skipInheritDescriptions = s.skipInheritDescriptions || skipInheritDescriptions,
        useUnrenderedDescriptions = s.useUnrenderedDescriptions || useUnrenderedDescriptions,
        skipAddTags = s.skipAddTags || skipAddTags,
        skipMergeMeta = s.skipMergeMeta || skipMergeMeta,
        skipInheritanceForMetaKeys =
          (s.skipInheritanceForMetaKeys ++ skipInheritanceForMetaKeys).distinct,
        addInheritanceForSpecifiedKeys =
          (s.addInheritanceForSpecifiedKeys ++ addInheritanceForSpecifiedKeys).distinct,
        addProgenitorToMeta = s.addProgenitorToMeta || addProgenitorToMeta,
        numericPrecisionAndScale = s.numericPrecisionAndScale || numericPrecisionAndScale,
        stringLength = s.stringLength || stringLength,
        outputToLower = s.outputToLower || outputToLower,
        outputToUpper = s.outputToUpper || outputToUpper)
      val skips = Seq(
        "skip-add-columns" -> skipAddColumns,
        "skip-add-data-types" -> skipAddDataTypes).collect {
        case (k, true) => k -> (true: Any)
      }
      if (skips.isEmpty) out else out.copy(vars = out.vars ++ Map(
        "dbt-osmosis" -> (out.vars.getOrElse("dbt-osmosis", Map.empty[String, Any])
          match {
            case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] ++ skips
            case _ => skips.toMap
          })))
    }
  }

  private[graft] def parseYamlFlags(args: List[String]): Either[String, YamlFlags] = {
    @annotation.tailrec
    def go(rest: List[String], acc: YamlFlags): Either[String, YamlFlags] =
      rest match {
        case Nil => Right(acc)
        case "--fqn" :: v :: t if !v.startsWith("-") =>
          go(t, acc.copy(fqns = acc.fqns :+ v))
        case "--dry-run" :: t => go(t, acc.copy(dryRun = true))
        case "--check" :: t => go(t, acc.copy(check = true))
        case "--auto-apply" :: t => go(t, acc.copy(autoApply = true))
        case "--synthesize" :: t => go(t, acc.copy(synthesize = true))
        case ("-F" | "--force-inherit-descriptions") :: t =>
          go(t, acc.copy(forceInheritDescriptions = true))
        case "--skip-inherit-descriptions" :: t =>
          go(t, acc.copy(skipInheritDescriptions = true))
        case "--use-unrendered-descriptions" :: t =>
          go(t, acc.copy(useUnrenderedDescriptions = true))
        case "--skip-add-columns" :: t => go(t, acc.copy(skipAddColumns = true))
        case "--skip-add-data-types" :: t => go(t, acc.copy(skipAddDataTypes = true))
        case "--skip-add-tags" :: t => go(t, acc.copy(skipAddTags = true))
        case "--skip-merge-meta" :: t => go(t, acc.copy(skipMergeMeta = true))
        case "--skip-inheritance-for-meta-keys" :: v :: t if !v.startsWith("-") =>
          go(t, acc.copy(skipInheritanceForMetaKeys = acc.skipInheritanceForMetaKeys :+ v))
        case "--add-inheritance-for-specified-keys" :: v :: t if !v.startsWith("-") =>
          go(t, acc.copy(addInheritanceForSpecifiedKeys = acc.addInheritanceForSpecifiedKeys :+ v))
        case "--add-progenitor-to-meta" :: t => go(t, acc.copy(addProgenitorToMeta = true))
        case "--numeric-precision-and-scale" :: t =>
          go(t, acc.copy(numericPrecisionAndScale = true))
        case "--string-length" :: t => go(t, acc.copy(stringLength = true))
        case "--output-to-lower" :: t => go(t, acc.copy(outputToLower = true))
        case "--output-to-upper" :: t => go(t, acc.copy(outputToUpper = true))
        case "--include-external" :: t => go(t, acc.copy(includeExternal = true))
        case (f @ ("--fqn" | "--skip-inheritance-for-meta-keys" |
          "--add-inheritance-for-specified-keys")) :: _ =>
          Left(s"option '$f' requires a value")
        case other :: _ if other.startsWith("-") => Left(s"unknown option '$other'")
        case model :: t => go(t, acc.copy(models = acc.models :+ model))
      }
    go(args, YamlFlags())
  }

  /** Reference `--auto-apply` contract (cli/main.py:470-476,
    * apply_restructure_plan(confirm=not auto_apply)): restructure
    * plans apply only after confirmation unless auto-approved.
    * Headless runs (no attached console) proceed as auto-apply —
    * an interactive prompt would hang CI, and `--dry-run`/`--check`
    * are the no-write paths.
    */
  private def confirmApply(flags: YamlFlags, moves: Int = 0): Boolean =
    flags.autoApply || System.console() == null || {
      print(s"apply restructure plan${if (moves > 0) s" ($moves moves)" else ""}? [y/N] ")
      Option(scala.io.StdIn.readLine()).exists(_.trim.equalsIgnoreCase("y"))
    }

  private def flagsOrExit(rest: List[String]): YamlFlags =
    parseYamlFlags(rest) match {
      case Right(f) => f
      case Left(err) =>
        System.err.println(s"$err (see usage for the yaml-plane option matrix)")
        sys.exit(2)
    }

  def main(args: Array[String]): Unit = args.toList match {
    case "build" :: dir :: Nil =>
      val spark = session()
      val project = ProjectLoader.load(dir)
      val executor = new ModelExecutor(spark, project)
      val order = executor.buildAll()
      order.foreach(uid => println(s"built $uid"))
      spark.stop()

    case "run-sql" :: dir :: sql :: Nil =>
      val spark = session()
      val project = ProjectLoader.load(dir)
      val executor = new ModelExecutor(spark, project)
      executor.buildAll()
      // reference caps display at 50 rows (cli/main.py:1650-1656)
      executor.executeSql(sql).show(50, truncate = false)
      spark.stop()

    case "inherit" :: dir :: Nil =>
      val spark = session()
      val project = ProjectLoader.load(dir)
      val executor = new ModelExecutor(spark, project)
      executor.buildAll()
      val settings = settingsFor(project,
        graft.core.EngineSettings(addProgenitorToMeta = true))
      var manifest = executor.manifest
      val pipeline = graft.core.Transforms.Pipeline()
        .andThen("inherit", (m, n) =>
          graft.core.Inheritance.inheritUpstreamColumnKnowledge(m, n, settings))
      val result = pipeline.run(manifest)
      for (node <- result.manifest.nodes.values if node.resourceType == "model";
           c <- node.columns.values if c.description.exists(_.nonEmpty))
        println(s"${node.name}.${c.name}: ${c.description.get}")
      spark.stop()

    // Generic data-test execution over the built project (dbt test
    // shape): prints one line per declared test, exits non-zero on
    // failures.
    case "test" :: dir :: Nil =>
      val spark = session()
      val project = ProjectLoader.load(dir)
      val executor = new ModelExecutor(spark, project)
      executor.buildAll()
      val results = new graft.exec.TestRunner(spark).runAll(executor.manifest)
      results.foreach { r =>
        val loc = r.column.fold(r.nodeName)(c => s"${r.nodeName}.$c")
        val status = if (r.passed) "PASS" else "FAIL"
        println(s"$status $loc ${r.test}" +
          (if (r.violations > 0) s" violations=${r.violations}" else "") +
          r.error.fold("")(e => s" error=$e"))
      }
      // dbt `unit_tests:` blocks run in the same `test` invocation
      // (dbt-core folds them into `dbt test`)
      val unitResults =
        new graft.exec.UnitTestRunner(spark, project, executor).runAll()
      unitResults.foreach { r =>
        val status = if (r.passed) "PASS" else "FAIL"
        println(s"$status ${r.model} unit_test:${r.name}" +
          (if (!r.passed && r.missing >= 0)
             s" missing=${r.missing} unexpected=${r.unexpected}" else "") +
          r.error.fold("")(e => s" error=$e") +
          r.diff.fold("")(d => s" diff=$d"))
      }
      spark.stop()
      if (results.exists(!_.passed) || unitResults.exists(!_.passed))
        sys.exit(1)

    case "lint" :: dir :: Nil =>
      val spark = session()
      val project = ProjectLoader.load(dir)
      val executor = new ModelExecutor(spark, project)
      executor.buildAll()
      val violations = graft.core.Lint.lintManifest(
        executor.manifest, spark = Some(spark))
      for ((uid, vs) <- violations.toSeq.sortBy(_._1); v <- vs)
        println(s"$uid:${v.line}:${v.col} [${v.ruleId}] ${v.message}")
      spark.stop()
      if (violations.values.exists(_.exists(_.severity == "error"))) sys.exit(1)

    case "diff" :: dir :: Nil =>
      val spark = session()
      val project = ProjectLoader.load(dir)
      val executor = new ModelExecutor(spark, project)
      executor.buildAll()
      val settings = graft.core.EngineSettings()
      for (node <- executor.manifest.models.toSeq.sortBy(_.uniqueId)
           if node.columns.nonEmpty) {
        val dbCols = graft.core.Introspection.getColumns(spark, node.name, settings)
        val result = graft.core.Diff.compareNode(node, dbCols)
        for (c <- result.changes)
          println(s"[${c.severity}] ${c.description}")
        if (result.changes.nonEmpty) {
          val plan = graft.core.Migration.planFor(node.name, result)
          plan.steps.foreach(s => println(s"  ddl> ${s.sql}"))
        }
      }
      spark.stop()

    // One-pass relation profile (rows, nulls, approx distinct,
    // min/max per column) over a built project relation.
    case "profile" :: dir :: relation :: Nil =>
      val spark = session()
      val project = ProjectLoader.load(dir)
      new ModelExecutor(spark, project).buildAll()
      val rows = graft.core.Introspection.profileRelation(spark, relation)
      println(f"${"column"}%-28s ${"type"}%-12s ${"rows"}%12s ${"nulls"}%10s ${"~distinct"}%10s  min / max")
      rows.foreach { p =>
        println(f"${p.column}%-28s ${p.dtype}%-12s ${p.nRows}%12d ${p.nNulls}%10d " +
          f"${p.approxDistinct}%10d  ${p.min.getOrElse("-")} / ${p.max.getOrElse("-")}")
      }
      spark.stop()

    // Scoped half-pipelines (reference `yaml organize` / `yaml
    // document`, cli/main.py:492-570): layout moves without touching
    // docs, and doc inheritance without moving files.
    case "organize" :: dir :: rest =>
      val flags = flagsOrExit(rest)
      val project = ProjectLoader.load(dir)
      val settings = flags.applyTo(settingsFor(project,
        graft.core.EngineSettings(
          vars = Map("dbt_osmosis_default_path" -> "{parent}/{model}.yml"))))
      val r = graft.core.Workflows.organize(project.root, project.manifest,
        settings, flags.fqns, flags.dryRun, models = flags.models,
        includeExternal = flags.includeExternal,
        confirmMoves = n => confirmApply(flags, n))
      r.findings.foreach { case (p, f) =>
        println(s"yaml-check ${project.root.relativize(p)} [${f.rule}] ${f.severity}: ${f.message}")
      }
      r.planned.foreach(p => println(s"would write ${project.root.relativize(p)}"))
      r.written.foreach(p => println(s"wrote ${project.root.relativize(p)}"))
      // exit 1 on error findings regardless of r.written: organize
      // merges committed restructure moves into written, which must
      // not mask a refused sync (the sync writes themselves are
      // always withheld on error findings)
      if (!flags.dryRun && r.findings.exists(_._2.severity == "error")) {
        System.err.println("refusing to write: schema validation errors")
        sys.exit(1)
      }
      if (flags.check && r.mutated) sys.exit(1)

    case "document" :: dir :: rest =>
      val flags = flagsOrExit(rest)
      val spark = session()
      val project = ProjectLoader.load(dir)
      val executor = new ModelExecutor(spark, project)
      executor.buildAll()
      val settings = flags.applyTo(settingsFor(project,
        graft.core.EngineSettings(addProgenitorToMeta = true)))
      val r = graft.core.Workflows.document(
        spark, project.root, executor.manifest, settings, flags.fqns, flags.dryRun,
        models = flags.models,
        synthesizeWith =
          if (flags.synthesize) Some(graft.core.DocSynthesis.HeuristicClient) else None,
        includeExternal = flags.includeExternal)
      r.findings.foreach { case (p, f) =>
        println(s"yaml-check ${project.root.relativize(p)} [${f.rule}] ${f.severity}: ${f.message}")
      }
      r.planned.foreach(p => println(s"would write ${project.root.relativize(p)}"))
      r.written.foreach(p => println(s"wrote ${project.root.relativize(p)}"))
      spark.stop()
      // exit 1 on error findings regardless of r.written: organize
      // merges committed restructure moves into written, which must
      // not mask a refused sync (the sync writes themselves are
      // always withheld on error findings)
      if (!flags.dryRun && r.findings.exists(_._2.severity == "error")) {
        System.err.println("refusing to write: schema validation errors")
        sys.exit(1)
      }
      if (flags.check && r.mutated) sys.exit(1)

    // The flagship pipeline (reference `yaml refactor`,
    // cli/main.py:430-490): build, restructure YAML to target paths,
    // then inject -> remove -> inherit -> sort -> sync-types and
    // write the YAML back.
    case "refactor" :: dir :: rest =>
      val flags = flagsOrExit(rest)
      val spark = session()
      val project = ProjectLoader.load(dir)
      val executor = new ModelExecutor(spark, project)
      executor.buildAll()
      val settings = flags.applyTo(settingsFor(project,
        graft.core.EngineSettings(
          addProgenitorToMeta = true,
          vars = Map("dbt_osmosis_default_path" -> "{parent}/{model}.yml"))))
      import graft.core._
      val filter = NodeFilters.NodeFilter(fqnPrefixes = flags.fqns,
        pathPatterns = flags.models, includeExternal = flags.includeExternal)

      val plan = Restructuring.draftPlan(project.root, executor.manifest,
        settings, filter)
      var manifest =
        if (flags.dryRun || (plan.ops.nonEmpty && !confirmApply(flags, plan.ops.size))) {
          plan.ops.foreach(op =>
            println(s"would restructure -> ${project.root.relativize(op.targetFile)}"))
          executor.manifest
        } else {
          val (m, moved) = Restructuring.applyPlan(project.root, plan,
            executor.manifest, settings)
          moved.foreach(p =>
            println(s"restructured -> ${project.root.relativize(p)}"))
          m
        }

      def cols(n: NodeMeta) =
        Introspection.getColumns(spark, Transforms.relationFor(n), settings, Some(n))
      val basePipeline = Transforms.Pipeline()
        .andThen("inject", (_, n) => Transforms.injectMissingColumns(n, cols(n), settings))
        .andThen("remove", (_, n) => Transforms.removeColumnsNotInDatabase(n, cols(n), settings))
        .andThen("inherit", (m, n) => Inheritance.inheritUpstreamColumnKnowledge(m, n, settings))
        .andThen("sort", (_, n) => Transforms.sortColumnsAsConfigured(n, cols(n), settings))
        .andThen("sync-types", (_, n) => Transforms.synchronizeDataTypes(n, cols(n), settings))
      val result = (if (flags.synthesize)
          basePipeline.andThen("synthesize",
            (m, n) => DocSynthesis.synthesizeNode(m, n, settings,
              DocSynthesis.HeuristicClient))
        else basePipeline)
        .run(manifest, filter)
      manifest = result.manifest
      result.steps.foreach(s =>
        println(f"step ${s.name}%-11s ${s.seconds}%.3fs mutated=${s.mutated}"))

      val nodes = NodeFilters.candidates(manifest, filter)
        .filter(n => n.resourceType == "model" || n.resourceType == "seed")
      val synced = SyncOperations.syncNodes(project.root, nodes, settings)
      // structural validation before anything reaches disk (A44):
      // per-file chain + cross-file duplicate detection
      val findings = synced.flatMap(p => SchemaValidation.validate(YamlIO.read(p))
        .map(f => p -> f)) ++
        SchemaValidation.validateCrossFile(synced.map(p => p -> YamlIO.read(p)))
          .map(f => project.root -> f)
      findings.foreach { case (p, f) =>
        println(s"yaml-check ${project.root.relativize(p)} [${f.rule}] ${f.severity}: ${f.message}")
      }
      if (findings.exists(_._2.severity == "error")) {
        System.err.println("refusing to write: schema validation errors")
        spark.stop(); sys.exit(1)
      }
      val mutated =
        if (flags.dryRun) {
          val planned = YamlIO.pending()
          YamlIO.invalidate()
          planned.foreach(p => println(s"would write ${project.root.relativize(p)}"))
          plan.ops.nonEmpty || planned.nonEmpty
        } else {
          val written = YamlIO.commit()
          written.foreach(p => println(s"wrote ${project.root.relativize(p)}"))
          plan.ops.nonEmpty || written.nonEmpty
        }

      if (!flags.dryRun)
        Validation.validateModels(spark, manifest).foreach(r =>
          println(s"validate ${r.nodeId}: ${r.status}${r.error.fold("")(e => s" ($e)")}"))
      spark.stop()
      if (flags.check && mutated) sys.exit(1)

    // Training-data curation pipeline over a documents parquet dir:
    // quality -> repetition -> language -> PII redaction -> exact
    // dedup -> near-dup removal (-> decontamination / stratified
    // sampling when configured) -> curated parquet + one-pass
    // attrition report.
    case "curate" :: sfDir :: outDir :: rest if rest.forall(_ == "--semantic") =>
      val spark = session()
      val docs = Tables.documents(spark, sfDir)
      // --semantic: also drop embedding-space near-dups (t40 verdicts
      // over the fixture's embeddings table, ids aligned with doc_id)
      val emb =
        if (rest.contains("--semantic")) Some(Tables.embeddings(spark, sfDir))
        else None
      val (curated, report) = graft.operators.Curation.curate(
        docs, "doc_id", "text",
        graft.operators.Curation.Config(minTokens = 10, minQuality = 0.3,
          nearDupThreshold = 0.7),
        embeddings = emb)
      curated.write.mode("overwrite").parquet(outDir)
      println(s"curate: input=${report.input} afterQuality=${report.afterQuality} " +
        s"afterRepetition=${report.afterRepetition} afterLang=${report.afterLang} " +
        s"afterExact=${report.afterExact} afterNearDup=${report.afterNearDup} " +
        s"afterDupRange=${report.afterDupRange} " +
        s"afterSemantic=${report.afterSemantic} " +
        s"afterDecontam=${report.afterDecontam} afterSample=${report.afterSample} " +
        s"piiMatches=${report.piiMatches} -> $outDir")
      spark.stop()

    // Catalog artifact (A5): materialized schema snapshot of every
    // built relation, preferred over live introspection on re-runs.
    case "serve" :: dir :: rest if rest.length <= 1 =>
      val spark = session()
      val project = ProjectLoader.load(dir)
      val executor = new ModelExecutor(spark, project)
      executor.buildAll()
      val port = rest.headOption.map(_.toInt).getOrElse(8581)
      // Both servers start inside the cleanup scope: a failure
      // starting the second (e.g. port+1 already bound) must stop the
      // first and the session rather than leak them.
      var proxy: graft.serve.SqlProxy = null
      var mysql: graft.serve.MysqlFace = null
      try {
        proxy = new graft.serve.SqlProxy(executor, port).start()
        // MySQL wire face beside the HTTP face (reference serves
        // mysql-mimic on 3306; here HTTP port + 1 so one flag drives
        // both) — stock MySQL clients connect with any credentials.
        // If port+1 is taken, fall back to an ephemeral port (printed
        // below) instead of failing the whole serve command.
        mysql =
          try new graft.serve.MysqlFace(executor,
            if (port == 0) 0 else port + 1).start()
          catch {
            case _: java.net.BindException =>
              new graft.serve.MysqlFace(executor, 0).start()
          }
        println(s"sql proxy listening on 127.0.0.1:${proxy.boundPort} " +
          "(POST /query, GET /schema); mysql wire on " +
          s"127.0.0.1:${mysql.boundPort}; Ctrl-C to stop")
        // foreground server: park the main thread until interrupted
        Thread.currentThread.join()
      } finally {
        if (proxy != null) proxy.stop()
        if (mysql != null) mysql.stop()
        spark.stop()
      }

    case "catalog" :: dir :: outFile :: Nil =>
      val spark = session()
      val project = ProjectLoader.load(dir)
      val executor = new ModelExecutor(spark, project)
      executor.buildAll()
      val settings = graft.core.EngineSettings()
      val tables = executor.manifest.nodes.values
        .filter(n => n.resourceType == "model" || n.resourceType == "seed")
        .map(_.name).toSeq.sorted
      val catalog = graft.core.Introspection.generateCatalog(spark, tables, settings)
      def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      val json = catalog.toSeq.sortBy(_._1).map { case (t, cols) =>
        q(t) + ": [" + cols.map(c =>
          s"{${q("name")}: ${q(c.name)}, ${q("type")}: ${q(c.dataType)}, ${q("index")}: ${c.index}}")
          .mkString(", ") + "]"
      }.mkString("{", ", ", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json)
      println(s"catalog: ${catalog.size} relations -> $outFile")
      spark.stop()

    case _ =>
      System.err.println(
        "usage: graft.Cli build|run-sql|inherit|test|lint|diff|refactor|organize|document|catalog|profile|serve <projectDir> [args] | curate <sfDir> <outDir> [--semantic]\n" +
          "  refactor/organize/document options: [MODEL ...] --fqn <pattern> (repeatable), --dry-run, --check,\n" +
          "    --auto-apply, --synthesize, -F/--force-inherit-descriptions, --skip-inherit-descriptions,\n" +
          "    --use-unrendered-descriptions, --skip-add-columns, --skip-add-data-types, --skip-add-tags,\n" +
          "    --skip-merge-meta, --skip-inheritance-for-meta-keys <k>, --add-inheritance-for-specified-keys <k>,\n" +
          "    --add-progenitor-to-meta, --numeric-precision-and-scale, --string-length, --output-to-lower, --output-to-upper,\n" +
          "    --include-external")
      sys.exit(2)
  }
}
