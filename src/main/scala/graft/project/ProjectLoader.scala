package graft.project

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.{ListMap, VectorMap}
import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.Yaml

import graft.core._

/** dbt-style project loader (A1): walk the models subtree (.sql and
  * schema .yml files) and the seeds dir (.csv) into an engine-owned
  * [[Manifest]].
  * The reference delegates to dbt's parser (core/config.py:610-660);
  * this loader covers the same project surface the demo fixture
  * exercises: folder-scoped materializations, per-model `{{ config }}`
  * (applied at compile time), schema docs with sources/models/seeds,
  * versioned models via `_vN` file naming, vars.
  */
object ProjectLoader {

  final case class Project(
      name: String,
      root: Path,
      manifest: Manifest,
      vars: Map[String, Any],
      modelConfig: Map[String, Any],
      /** An existing manifest at target/ was produced by dbt Fusion —
        * YAML output should use the fusion dialect (A3).
        */
      fusionManifest: Boolean = false,
      /** Concatenated sources of the .sql files under macros/,
        * prepended to every model template at compile time (dbt
        * global-macro semantics — macro definitions render to empty
        * text, so the prologue is inert).
        */
      macroPrologue: String = "",
      /** Declared `unit_tests:` blocks from the project's schema YAML
        * (dbt given/expect mock tests), executed by
        * [[graft.exec.UnitTestRunner]].
        */
      unitTests: Seq[graft.core.UnitTestMeta] = Nil)

  /** Known Fusion manifest schema versions (core/config.py:54). */
  private val KnownFusionSchemaVersions = Set(20)

  /** Detect a dbt-Fusion-produced manifest at `target/manifest.json`
    * (A3; core/config.py:95-145): read only the leading 4 KB — the
    * metadata header — and match the dbt_schema_version's /vN suffix
    * against the known Fusion versions. Absence, parse trouble, or an
    * unknown version all mean "not Fusion evidence".
    */
  def detectFusionManifest(root: Path): Boolean = {
    val mf = root.resolve("target").resolve("manifest.json")
    if (!Files.isRegularFile(mf)) false
    else try {
      val in = Files.newInputStream(mf)
      val buf = new Array[Byte](4096)
      val n = try in.read(buf) finally in.close()
      val header = new String(buf, 0, math.max(n, 0), java.nio.charset.StandardCharsets.UTF_8)
      "\"dbt_schema_version\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(header)
        .flatMap(m => "/v(\\d+)(?:\\.json)?$".r.findFirstMatchIn(m.group(1)))
        .exists(v => KnownFusionSchemaVersions(v.group(1).toInt))
    } catch { case _: Exception => false }
  }

  private val yaml = new ThreadLocal[Yaml] { override def initialValue() = new Yaml() }

  private def anyToScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      ListMap(m.asScala.toSeq.map { case (k, value) => k.toString -> anyToScala(value) }: _*)
    case l: java.util.List[_] => l.asScala.toSeq.map(anyToScala)
    case other => other
  }

  def loadYaml(path: Path): Map[String, Any] =
    if (!Files.exists(path)) Map.empty
    else anyToScala(yaml.get.load[Any](Files.readString(path))) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty
    }

  private def asMap(v: Any): Map[String, Any] = v match {
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
    case _ => Map.empty
  }
  private def asSeqMap(v: Any): Seq[Map[String, Any]] = v match {
    case s: Seq[_] => s.collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
    case _ => Nil
  }

  /** Resolve the materialization for a model path from the project's
    * `models:` config tree (folder-scoped `+materialized:` or
    * `materialized:` keys, nested by directory, dbt semantics).
    */
  private[project] def materializationFor(modelCfg: Map[String, Any], projectName: String,
      relPath: Seq[String]): String = {
    def own(cfg: Map[String, Any]): Option[String] =
      cfg.get("+materialized").orElse(cfg.get("materialized")).map(_.toString)
    var cfg = asMap(modelCfg.getOrElse(projectName, Map.empty))
    var mat = own(cfg)
    for (seg <- relPath.dropRight(1)) {
      cfg = asMap(cfg.getOrElse(seg, Map.empty))
      own(cfg).foreach(m => mat = Some(m))
    }
    mat.getOrElse("view")
  }

  private def columnsFrom(doc: Map[String, Any]): ListMap[String, ColumnMeta] =
    ListMap(asSeqMap(doc.getOrElse("columns", Nil)).map { c =>
      val name = c("name").toString
      name -> ColumnMeta(
        name = name,
        description = c.get("description").map(_.toString).filter(_.nonEmpty),
        dataType = c.get("data_type").map(_.toString),
        meta = ListMap(asMap(c.getOrElse("meta", Map.empty)).toSeq: _*),
        tags = c.get("tags").map { case s: Seq[_] => s.map(_.toString); case _ => Nil }
          .getOrElse(Nil),
        config = asMap(c.getOrElse("config", Map.empty)),
        tests = c.get("data_tests").orElse(c.get("tests")) match {
          case Some(s: Seq[_]) => s
          case _ => Nil
        })
    }: _*)

  def load(rootDir: String): Project = load(rootDir, followLoom = true)

  /** dbt-loom cross-project node injection (A1 optional branch;
    * reference config.py:519-561 `_add_cross_project_references`): a
    * `dbt-loom.yml` / `dbt_loom.config.yml` at the project root lists
    * external manifests, and every EXPOSED model from each — access
    * set and not "protected", the reference's exact gate — merges
    * into this manifest so cross-project `ref()` resolves and
    * inheritance can walk external ancestors. Spark-first
    * divergence: each entry's `config.path` points at the external
    * project DIRECTORY (projects load from source here; the
    * reference reads compiled manifest.json artifacts via the
    * dbt-loom plugin). Error-tolerant like the reference — a broken
    * entry warns and is skipped, never failing the load — and
    * depth-1: an external project's own loom config is not chased.
    */
  private def loomInjectedNodes(root: Path): Seq[NodeMeta] = {
    val cfg = Seq("dbt-loom.yml", "dbt_loom.config.yml").map(root.resolve)
      .find(Files.isRegularFile(_))
    cfg.toSeq.flatMap { f =>
      try asSeqMap(loadYaml(f).getOrElse("manifests", Nil)).flatMap { entry =>
        try {
          val c = asMap(entry.getOrElse("config", Map.empty))
          val path = c.getOrElse("path", entry.getOrElse("path", "")).toString
          if (path.isEmpty) Nil
          else {
            val ext = load(root.resolve(path).normalize().toString, followLoom = false)
            ext.manifest.models.filter(n =>
              n.config.get("access").exists(_.toString != "protected"))
              .map(n => n.copy(
                meta = n.meta + ("dbt-osmosis-loom-injected" -> true)))
              .toSeq
          }
        } catch {
          case e: Exception =>
            System.err.println(
              s"warning: skipping dbt-loom manifest entry: ${e.getMessage}")
            Nil
        }
      } catch {
        case e: Exception =>
          System.err.println(s"warning: failed to read dbt-loom config: ${e.getMessage}")
          Nil
      }
    }
  }

  private def load(rootDir: String, followLoom: Boolean): Project = {
    val root = Paths.get(rootDir)
    val projectYml = loadYaml(root.resolve("dbt_project.yml"))
    val projectName = projectYml.getOrElse("name", "project").toString
    val vars = asMap(projectYml.getOrElse("vars", Map.empty))
    val modelCfg = asMap(projectYml.getOrElse("models", Map.empty))

    var nodes = Vector.empty[NodeMeta]

    // seeds
    val seedsDir = root.resolve(
      asSeqMap(Nil).headOption.map(_ => "seeds").getOrElse("seeds"))
    if (Files.isDirectory(seedsDir))
      Files.list(seedsDir).iterator().asScala.toSeq
        .filter(_.toString.endsWith(".csv")).sortBy(_.toString).foreach { p =>
          val name = p.getFileName.toString.stripSuffix(".csv")
          nodes :+= NodeMeta(
            uniqueId = s"seed.$projectName.$name", name = name,
            resourceType = "seed", packageName = projectName,
            fqn = Seq(projectName, name), path = root.relativize(p).toString)
        }

    // models (recursive)
    val modelsDir = root.resolve("models")
    val modelFiles =
      if (Files.isDirectory(modelsDir))
        Files.walk(modelsDir).iterator().asScala.toSeq
          .filter(p => p.toString.endsWith(".sql")).sortBy(_.toString)
      else Nil
    val versioned = "^(.*)_v(\\d+)$".r
    for (p <- modelFiles) {
      val fileName = p.getFileName.toString.stripSuffix(".sql")
      val rel = modelsDir.relativize(p)
      val relSegs = (0 until rel.getNameCount).map(rel.getName(_).toString)
      val (version: Option[Any]) = fileName match {
        case versioned(_, v) => Some(v.toLong)
        case _ => None
      }
      nodes :+= NodeMeta(
        uniqueId = s"model.$projectName.$fileName", name = fileName,
        resourceType = "model", packageName = projectName,
        fqn = projectName +: relSegs.dropRight(1) :+ fileName,
        path = root.relativize(p).toString,
        rawCode = Files.readString(p),
        materialized = materializationFor(modelCfg, projectName, relSegs),
        version = version)
    }

    // singular tests (tests/**/*.sql): dbt semantics — each file is a
    // SELECT whose ROWS ARE FAILURES; compiled like a model (full
    // ref/source/var Jinja) but never materialized
    val testsDir = root.resolve("tests")
    val testFiles =
      if (Files.isDirectory(testsDir))
        Files.walk(testsDir).iterator().asScala.toSeq
          .filter(p => p.toString.endsWith(".sql")).sortBy(_.toString)
      else Nil
    for (p <- testFiles) {
      val fileName = p.getFileName.toString.stripSuffix(".sql")
      nodes :+= NodeMeta(
        uniqueId = s"test.$projectName.$fileName", name = fileName,
        resourceType = "test", packageName = projectName,
        fqn = Seq(projectName, "tests", fileName),
        path = root.relativize(p).toString,
        rawCode = Files.readString(p))
    }

    // schema yml docs (models/**/*.yml + seeds/**/*.yml): models/seeds
    // column docs + sources. The seeds dir must be scanned too — seed
    // YAML organized next to its CSV would otherwise never resolve a
    // patchPath, and every restructure run would re-plan the same move.
    val ymlFiles =
      Seq(modelsDir, seedsDir).filter(Files.isDirectory(_))
        .flatMap { d =>
          val s = Files.walk(d)
          try s.iterator().asScala.toSeq finally s.close()
        }
        .filter(p => p.toString.endsWith(".yml") || p.toString.endsWith(".yaml"))
        .sortBy(_.toString)
    var byId = VectorMap.from(nodes.map(n => n.uniqueId -> n))
    var unitTests = Vector.empty[UnitTestMeta]
    for (p <- ymlFiles) {
      val doc = loadYaml(p)
      // dbt `unit_tests:` blocks (given/expect mock tests) — parsed
      // here, executed by graft.exec.UnitTestRunner
      for (ut <- asSeqMap(doc.getOrElse("unit_tests", Nil))) {
        val expectBody = asMap(ut.getOrElse("expect", Map.empty))
        val expectFx = utFixture(expectBody, root)
        unitTests :+= UnitTestMeta(
          name = ut.getOrElse("name", "").toString,
          model = ut.getOrElse("model", "").toString,
          given = asSeqMap(ut.getOrElse("given", Nil)).map { g =>
            val fx = utFixture(g, root)
            UnitTestInput(g.getOrElse("input", "").toString, fx.rows,
              sql = fx.sql)
          },
          expect = expectFx.rows,
          expectSql = expectFx.sql,
          expectOrdered = expectBody.get("ordered")
            .exists(b => b == true || b.toString == "true"),
          description = ut.getOrElse("description", "").toString,
          overrides = asMap(ut.getOrElse("overrides", Map.empty)))
      }
      for (section <- Seq("models", "seeds"); entry <- asSeqMap(doc.getOrElse(section, Nil))) {
        val name = entry("name").toString
        // versioned schema entries expand to per-version nodes; the
        // base name is ALSO matched against an unversioned sibling
        // node (top-level payload, no versions block) so its patchPath
        // survives reload — otherwise every restructure run re-plans
        // the same move for the unversioned file
        val versions = asSeqMap(entry.getOrElse("versions", Nil))
        val targets =
          if (versions.isEmpty) Seq((name, entry))
          else (name, entry - "versions") +: versions.map { v =>
            val vNum = v("v")
            val vName = if (DbtCompiler0.normalizeVersion(vNum) == "1") name
                        else s"${name}_v${DbtCompiler0.normalizeVersion(vNum)}"
            (vName, entry ++ v - "v")
          }
        for ((targetName, body) <- targets)
          byId.values.find(n => n.name == targetName &&
              (n.resourceType == "model" || n.resourceType == "seed")).foreach { n =>
            val updated = n.copy(
              description = body.getOrElse("description", n.description).toString,
              meta = n.meta ++ asMap(body.getOrElse("meta", Map.empty)),
              tags = n.tags ++ asSeqAny(body.getOrElse("tags", Nil)),
              // top-level `access:` folds into config (dbt model
              // property; the dbt-loom exposure gate reads it)
              config = n.config ++ asMap(body.getOrElse("config", Map.empty)) ++
                body.get("access").map(a => Map("access" -> a)).getOrElse(Map.empty),
              patchPath = Some(root.relativize(p).toString),
              version = if (versions.isEmpty) n.version
                        else Option(body.getOrElse("v", n.version.orNull)),
              columns = columnsFrom(body))
            byId = byId.updated(n.uniqueId, updated)
          }
      }
      for (src <- asSeqMap(doc.getOrElse("sources", Nil))) {
        val srcName = src("name").toString
        val database = src.getOrElse("database", "main").toString
        val schema = src.getOrElse("schema", srcName).toString
        for (tbl <- asSeqMap(src.getOrElse("tables", Nil))) {
          val tblName = tbl("name").toString
          val uid = s"source.$projectName.$srcName.$tblName"
          byId = byId.updated(uid, NodeMeta(
            uniqueId = uid, name = tblName, resourceType = "source",
            database = database, schema = schema, packageName = projectName,
            fqn = Seq(projectName, srcName, tblName),
            path = root.relativize(p).toString,
            description = tbl.getOrElse("description", "").toString,
            columns = columnsFrom(tbl)))
        }
      }
    }

    val macrosDir = root.resolve("macros")
    val macroPrologue =
      if (!Files.isDirectory(macrosDir)) ""
      else {
        val s = Files.walk(macrosDir)
        val files = try s.iterator().asScala.toSeq finally s.close()
        files.filter(_.toString.endsWith(".sql")).sortBy(_.toString)
          .map(Files.readString).mkString("\n")
      }

    // cross-project injection last: an external node never shadows an
    // own node with the same unique id
    if (followLoom)
      for (n <- loomInjectedNodes(root) if !byId.contains(n.uniqueId))
        byId = byId.updated(n.uniqueId, n)

    Project(projectName, root, Manifest(byId), vars, modelCfg,
      fusionManifest = detectFusionManifest(root),
      macroPrologue = macroPrologue,
      unitTests = unitTests)
  }

  /** One parsed unit-test fixture: literal rows (dict/csv formats) OR
    * a SQL query text (sql format) — never both.
    */
  final case class UtFixture(rows: Seq[Map[String, Any]] = Nil,
      sql: Option[String] = None)

  /** Fixture of a unit-test `given`/`expect` body — dbt's full format
    * matrix. `format: dict` (the default) carries rows as YAML maps;
    * `format: csv` carries a header+rows string whose values stay
    * strings — the runner casts them against the input relation's
    * real schema, dbt's own type-derivation rule (no quoted-comma
    * support; fixture rows are hand-written scalars). Per dbt's csv
    * rule an EMPTY csv cell is NULL (a dict-format `''` stays an
    * empty string — the runner never re-applies the rule).
    * `format: sql` carries a query whose RESULT is the fixture (the
    * query defines columns and types; no cast against the real
    * input). csv and sql payloads come inline via `rows:` or from a
    * `fixture:` file at `tests/fixtures/<name>.<format>` (dbt's
    * fixture-directory convention).
    *
    * Malformed-but-parseable forms FAIL LOUDLY instead of parsing to
    * zero rows: a missing fixture file, a dict-format `fixture:`, or
    * a mistyped `rows:` payload would otherwise materialize an EMPTY
    * mock input, and a test with `expect: rows: []` would silently
    * PASS against inputs it never saw — the one failure mode a test
    * framework must not have.
    */
  private def utFixture(body: Map[String, Any], root: Path): UtFixture = {
    val format = body.getOrElse("format", "dict").toString
    val payload: Option[Any] = body.get("fixture") match {
      case Some(fx) =>
        require(format == "csv" || format == "sql",
          "unit-test `fixture:` files exist only for csv/sql formats, " +
            s"not $format")
        val p = root.resolve("tests").resolve("fixtures")
          .resolve(s"${fx.toString}.$format")
        require(Files.isRegularFile(p),
          s"unit-test fixture file not found: $p")
        Some(Files.readString(p))
      case None => body.get("rows")
    }
    format match {
      case "csv" =>
        payload match {
          case Some(s: String) =>
            val lines = s.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
            if (lines.size < 2) UtFixture()
            else {
              val hdr = lines.head.split(",").map(_.trim).toSeq
              UtFixture(lines.tail.map(l =>
                hdr.zip(l.split(",", -1).map(_.trim).toSeq
                    .map(v => if (v.isEmpty) null else v))
                  .toMap[String, Any]))
            }
          case None => UtFixture()
          case Some(other) => throw new IllegalArgumentException(
            "unit-test csv-format `rows:` must be a header+rows string, " +
              s"got ${other.getClass.getSimpleName}")
        }
      case "sql" =>
        payload match {
          case Some(s: String) if s.trim.nonEmpty => UtFixture(sql = Some(s))
          case _ => throw new IllegalArgumentException(
            "unit-test sql-format needs a non-empty `rows:` SQL string " +
              "or a `fixture:` file")
        }
      case "dict" =>
        payload.getOrElse(Nil) match {
          case s: Seq[_] => UtFixture(asSeqMap(s).map(_.toMap[String, Any]))
          case other => throw new IllegalArgumentException(
            "unit-test dict-format `rows:` must be a list of maps, " +
              s"got ${other.getClass.getSimpleName}")
        }
      case other => throw new IllegalArgumentException(
        s"unsupported unit-test fixture format: $other " +
          "(supported: dict, csv, sql)")
    }
  }

  private def asSeqAny(v: Any): Seq[String] = v match {
    case s: Seq[_] => s.map(_.toString)
    case _ => Nil
  }

  // local alias to avoid a circular import in the versions block
  private object DbtCompiler0 {
    def normalizeVersion(v: Any): String = graft.compile.DbtCompiler.normalizeVersion(v)
  }
}
