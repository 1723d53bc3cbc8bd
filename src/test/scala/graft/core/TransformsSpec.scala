package graft.core

import scala.collection.immutable.ListMap

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Introspection.IntrospectedColumn

class TransformsSpec extends AnyFunSuite {

  val settings: EngineSettings = EngineSettings()

  def node(cols: ColumnMeta*): NodeMeta =
    NodeMeta(uniqueId = "model.m", name = "m", resourceType = "model",
      columns = ListMap(cols.map(c => c.name -> c): _*))

  def db(cols: (String, String)*): ListMap[String, IntrospectedColumn] =
    ListMap(cols.zipWithIndex.map { case ((n, t), i) =>
      n -> IntrospectedColumn(n, t, i)
    }: _*)

  test("inject adds DB-only columns with dtype, in DB order after existing") {
    val n = node(ColumnMeta("a"))
    val out = Transforms.injectMissingColumns(n, db("a" -> "BIGINT", "b" -> "VARCHAR"), settings)
    assert(out.columns.keySet == Set("a", "b"))
    assert(out.columns("b").dataType.contains("VARCHAR"))
  }

  test("inject respects output-to-upper for names and types") {
    val n = node(ColumnMeta("a"))
    val out = Transforms.injectMissingColumns(n, db("a" -> "BIGINT", "b" -> "varchar"),
      settings.copy(outputToUpper = true))
    assert(out.columns.contains("B"))
    assert(out.columns("B").dataType.contains("VARCHAR"))
  }

  test("inject case-insensitive compare avoids duplicating A vs a") {
    val n = node(ColumnMeta("A"))
    val out = Transforms.injectMissingColumns(n, db("a" -> "BIGINT"),
      settings.copy(outputToLower = true))
    assert(out.columns.size == 1)
  }

  test("remove drops YAML-only columns but is a no-op on empty introspection") {
    val n = node(ColumnMeta("a"), ColumnMeta("stale"))
    val out = Transforms.removeColumnsNotInDatabase(n, db("a" -> "BIGINT"), settings)
    assert(out.columns.keySet == Set("a"))
    val unchanged = Transforms.removeColumnsNotInDatabase(n, ListMap.empty, settings)
    assert(unchanged.columns.keySet == Set("a", "stale"))
  }

  test("sort by database ordinal, unknown columns last") {
    val n = node(ColumnMeta("c"), ColumnMeta("ghost"), ColumnMeta("a"), ColumnMeta("b"))
    val out = Transforms.sortColumnsAsInDatabase(n,
      db("a" -> "T", "b" -> "T", "c" -> "T"), settings)
    assert(out.columns.keys.toSeq == Seq("a", "b", "c", "ghost"))
  }

  test("sort alphabetically honors final case mode") {
    val n = node(ColumnMeta("b"), ColumnMeta("A"))
    val out = Transforms.sortColumnsAlphabetically(n, settings)
    assert(out.columns.keys.toSeq == Seq("A", "b")) // 'A' < 'b' in ASCII
  }

  test("sync types copies warehouse type and preserves lowercase style") {
    val n = node(
      ColumnMeta("a", dataType = Some("varchar")),
      ColumnMeta("b", dataType = Some("INTEGER")),
      ColumnMeta("c"))
    val out = Transforms.synchronizeDataTypes(n,
      db("a" -> "STRING", "b" -> "BIGINT", "c" -> "DOUBLE"), settings)
    assert(out.columns("a").dataType.contains("string")) // lowercase style kept
    assert(out.columns("b").dataType.contains("BIGINT"))
    assert(out.columns("c").dataType.contains("DOUBLE"))
  }

  test("per-column skip-add-data-types via column meta") {
    val n = node(ColumnMeta("a", dataType = Some("OLD"),
      meta = ListMap("skip-add-data-types" -> true)))
    val out = Transforms.synchronizeDataTypes(n, db("a" -> "NEW"), settings)
    assert(out.columns("a").dataType.contains("OLD"))
  }

  test("pipeline runs steps in topological order and counts mutations") {
    val a = NodeMeta("model.a", "a", "model")
    val b = NodeMeta("model.b", "b", "model", deps = Seq("model.a"))
    val m = Manifest(Seq(a, b))
    val p = Transforms.Pipeline()
      .andThen("tag", (_, n) => n.copy(tags = n.tags :+ "seen"))
      .andThen("noop", (_, n) => n)
    val result = p.run(m)
    assert(result.steps.map(_.mutated) == Seq(2, 0))
    assert(result.manifest.nodes.values.forall(_.tags.contains("seen")))
  }

  test("pipeline keeps a step that only reorders columns") {
    // NodeMeta equality ignores column order; a sort-only step must
    // still count as a change and keep its order
    val n = node(ColumnMeta("b", dataType = Some("INT")), ColumnMeta("a"))
    val p = Transforms.Pipeline()
      .andThen("sort", (_, x) =>
        Transforms.sortColumnsAsConfigured(x, db("a" -> "INT", "b" -> "INT"), settings))
      .andThen("sort-again", (_, x) =>
        Transforms.sortColumnsAsConfigured(x, db("a" -> "INT", "b" -> "INT"), settings))
    val result = p.run(Manifest(Seq(n)))
    assert(result.steps.map(_.mutated) == Seq(1, 0))
    assert(result.manifest.get("model.m").get.columns.keys.toSeq == Seq("a", "b"))
  }

  test("settings resolver precedence: column meta over node meta over vars") {
    val n = NodeMeta("model.m", "m", "model",
      meta = Map("sort-by" -> "alphabetical"),
      columns = ListMap("c" -> ColumnMeta("c", meta = ListMap("sort_by" -> "database"))))
    val s = settings.copy(vars = Map("sort-by" -> "vars-level"))
    assert(SettingsResolver.resolveString("sort-by", None, s, Some(n), Some("c"))
      .contains("database")) // column meta wins, snake_case accepted
    assert(SettingsResolver.resolveString("sort-by", None, s, Some(n), None)
      .contains("alphabetical")) // node meta next
    assert(SettingsResolver.resolveString("sort-by", None, s, None, None)
      .contains("vars-level")) // project vars last
  }

  test("settings resolver: full 9-level precedence matrix") {
    // Build a node where EVERY source defines the key, then peel
    // sources away one at a time and assert the next one wins
    // (mirrors tests/test_settings_resolver.py's table).
    val key = "skip-add-data-types"
    def node(colMeta: Boolean, nodeMeta: Boolean, cfgExtra: Boolean,
        cfgMeta: Boolean, unrendered: Boolean) =
      NodeMeta("model.m", "m", "model",
        columns = ListMap("c" -> ColumnMeta("c",
          meta = if (colMeta) ListMap(key -> "col") else ListMap.empty)),
        meta = if (nodeMeta) Map(key -> "node-meta") else Map.empty,
        config = (if (cfgExtra) Map[String, Any](s"dbt-osmosis-$key" -> "cfg-extra")
          else Map.empty[String, Any]) ++
          (if (cfgMeta) Map[String, Any]("meta" -> Map(key -> "cfg-meta"))
          else Map.empty[String, Any]),
        unrenderedConfig =
          if (unrendered) Map(s"dbt_osmosis_${key.replace('-', '_')}" -> "unrendered")
          else Map.empty)
    val s = settings.copy(
      supplementary = Map(key -> "supp-file"),
      vars = Map("dbt-osmosis" -> Map(key -> "vars-section")))
    def res(n: NodeMeta) =
      SettingsResolver.resolve(key, s, Some(n), Some("c")).map(_.toString)
    assert(res(node(true, true, true, true, true)).contains("col"))
    assert(res(node(false, true, true, true, true)).contains("node-meta"))
    assert(res(node(false, false, true, true, true)).contains("cfg-extra"))
    assert(res(node(false, false, false, true, true)).contains("cfg-meta"))
    assert(res(node(false, false, false, false, true)).contains("unrendered"))
    assert(res(node(false, false, false, false, false)).contains("supp-file"))
    val noSupp = s.copy(supplementary = Map.empty)
    assert(SettingsResolver.resolve(key, noSupp,
      Some(node(false, false, false, false, false)), Some("c")).contains("vars-section"))
    val nothing = noSupp.copy(vars = Map.empty)
    assert(SettingsResolver.resolve(key, nothing,
      Some(node(false, false, false, false, false)), Some("c")).isEmpty)
  }

  test("explicit typed settings beat supplementary file and vars (level 6)") {
    val s = EngineSettings(outputToUpper = true,
      supplementary = Map("output-to-upper" -> false),
      vars = Map("output-to-upper" -> false))
    assert(SettingsResolver.resolve("output-to-upper", s).contains(true))
    // default-valued typed settings do NOT mask the project files
    val d = EngineSettings(
      supplementary = Map("output-to-upper" -> true))
    assert(SettingsResolver.resolve("output-to-upper", d).contains(true))
    // node-level sources still beat the explicit typed value
    val n = NodeMeta("model.m", "m", "model",
      meta = Map("output-to-upper" -> false))
    assert(SettingsResolver.resolve("output-to-upper", s, Some(n)).contains(false))
  }

  test("settings sources honor key-variant rules per source") {
    val key = "output-to-lower"
    // config extras do NOT accept direct keys (reference direct_keys=False)
    val nDirect = NodeMeta("model.m", "m", "model", config = Map(key -> true))
    assert(SettingsResolver.resolve(key, settings, Some(nDirect)).isEmpty)
    // ...but do accept the options object and prefixed forms
    val nOpts = NodeMeta("model.m", "m", "model",
      config = Map("dbt-osmosis-options" -> Map("output_to_lower" -> true)))
    assert(SettingsResolver.resolve(key, settings, Some(nOpts)).contains(true))
    // unrendered_config: prefixed only, no direct keys
    val nUnrDirect = NodeMeta("model.m", "m", "model",
      unrenderedConfig = Map(key -> true))
    assert(SettingsResolver.resolve(key, settings, Some(nUnrDirect)).isEmpty)
    // supplementary file accepts prefixed, direct, and options
    val sOpt = settings.copy(supplementary =
      Map("dbt_osmosis_options" -> Map("output-to-lower" -> true)))
    assert(SettingsResolver.resolve(key, sOpt).contains(true))
    // vars: dbt-osmosis section beats top-level
    val sBoth = settings.copy(vars = Map(
      "dbt_osmosis" -> Map(key -> "section"), key -> "top"))
    assert(SettingsResolver.resolve(key, sBoth).contains("section"))
  }

  test("column config.meta merges over column meta (dbt >= 1.10)") {
    import scala.collection.immutable.ListMap
    val key = "output-to-lower"
    // config.meta wins the key conflict with classic column meta...
    val both = ColumnMeta("c", meta = ListMap(key -> false),
      config = Map("meta" -> Map(key -> true)))
    val n = NodeMeta("model.m", "m", "model", columns = ListMap("c" -> both))
    assert(SettingsResolver.resolve(key, settings, Some(n), Some("c")).contains(true))
    // ...and supplies settings on its own when classic meta is absent
    val only = ColumnMeta("c", config = Map("meta" -> Map(key -> true)))
    val n2 = NodeMeta("model.m", "m", "model", columns = ListMap("c" -> only))
    assert(SettingsResolver.resolve(key, settings, Some(n2), Some("c")).contains(true))
    // classic meta still resolves when config.meta has other keys
    val classic = ColumnMeta("c", meta = ListMap(key -> true),
      config = Map("meta" -> Map("unrelated" -> 1)))
    val n3 = NodeMeta("model.m", "m", "model", columns = ListMap("c" -> classic))
    assert(SettingsResolver.resolve(key, settings, Some(n3), Some("c")).contains(true))
  }

  test("dbt-osmosis.yml supplementary file loads from project root") {
    val root = java.nio.file.Files.createTempDirectory("graft_supp")
    assert(EngineSettings.loadSupplementary(root).isEmpty)
    java.nio.file.Files.writeString(root.resolve("dbt-osmosis.yml"),
      "skip-add-data-types: true\ndbt-osmosis-options:\n  sort-by: alphabetical\n")
    YamlIO.invalidate()
    val supp = EngineSettings.loadSupplementary(root)
    assert(supp("skip-add-data-types") == true)
    val s = EngineSettings(supplementary = supp)
    assert(SettingsResolver.resolve("skip-add-data-types", s).contains(true))
    assert(SettingsResolver.resolve("sort-by", s).contains("alphabetical"))
  }

  test("normalize_column_name adapter semantics") {
    assert(Introspection.normalizeColumnName("`col`", "spark") == "col")
    assert(Introspection.normalizeColumnName("\"Quoted\"", "snowflake") == "\"Quoted\"")
    assert(Introspection.normalizeColumnName("plain", "snowflake") == "PLAIN")
    assert(Introspection.normalizeColumnName("[sqlserver]", "sqlserver") == "sqlserver")
  }
}
