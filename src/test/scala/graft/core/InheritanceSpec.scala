package graft.core

import scala.collection.immutable.ListMap

import org.scalatest.funsuite.AnyFunSuite

/** Golden behavior tests for the column-knowledge graph, mirroring the
  * reference's semantics matrices (tests/test_yaml_knowledge_graph.py,
  * tests/test_yaml_inheritance.py): propagation, progenitor tracking,
  * placeholder handling, per-generation guards, fuzzy matching,
  * overrides.
  */
class InheritanceSpec extends AnyFunSuite {

  def col(name: String, desc: String = "", dt: String = "",
      meta: ListMap[String, Any] = ListMap.empty, tags: Seq[String] = Nil): ColumnMeta =
    ColumnMeta(name,
      description = if (desc.nonEmpty) Some(desc) else None,
      dataType = if (dt.nonEmpty) Some(dt) else None,
      meta = meta, tags = tags)

  def node(uid: String, deps: Seq[String], cols: ColumnMeta*): NodeMeta = {
    val Array(rt, _*) = uid.split('.')
    NodeMeta(uniqueId = uid, name = uid.split('.').last, resourceType = rt,
      deps = deps, columns = ListMap(cols.map(c => c.name -> c): _*))
  }

  val settings: EngineSettings = EngineSettings(addProgenitorToMeta = true)

  test("description propagates from farthest ancestor through undocumented middle") {
    val src = node("source.raw", Nil, col("id", desc = "The primary key"))
    val mid = node("model.stg", Seq("source.raw"), col("id"))
    val leaf = node("model.final", Seq("model.stg"), col("id"))
    val m = Manifest(Seq(src, mid, leaf))
    val k = Inheritance.buildColumnKnowledgeGraph(m, leaf, settings)
    assert(k("id")("description") == "The primary key")
    assert(k("id")("meta").asInstanceOf[Map[String, Any]]("osmosis_progenitor") == "source.raw")
  }

  test("closer ancestor's description wins over farther one") {
    val src = node("source.raw", Nil, col("id", desc = "Farthest doc"))
    val mid = node("model.stg", Seq("source.raw"), col("id", desc = "Closer doc"))
    val leaf = node("model.final", Seq("model.stg"), col("id"))
    val m = Manifest(Seq(src, mid, leaf))
    val k = Inheritance.buildColumnKnowledgeGraph(m, leaf, settings)
    assert(k("id")("description") == "Closer doc")
    // but progenitor stays the farthest
    assert(k("id")("meta").asInstanceOf[Map[String, Any]]("osmosis_progenitor") == "source.raw")
  }

  test("placeholder descriptions are not inherited") {
    val src = node("source.raw", Nil, col("id", desc = "Not documented"))
    val leaf = node("model.final", Seq("source.raw"), col("id"))
    val m = Manifest(Seq(src, leaf))
    val k = Inheritance.buildColumnKnowledgeGraph(m, leaf, settings)
    assert(!k("id").contains("description"))
  }

  test("local description survives apply unless force-inherit") {
    val src = node("source.raw", Nil, col("id", desc = "Upstream doc"))
    val leaf = node("model.final", Seq("source.raw"), col("id", desc = "Local doc"))
    val m = Manifest(Seq(src, leaf))
    val applied = Inheritance.inheritUpstreamColumnKnowledge(m, leaf, settings)
    assert(applied.columns("id").description.contains("Local doc"))
    val forced = Inheritance.inheritUpstreamColumnKnowledge(m, leaf,
      settings.copy(forceInheritDescriptions = true))
    assert(forced.columns("id").description.contains("Upstream doc"))
  }

  test("tags are an order-preserving union: local, then farthest to closest") {
    val src = node("source.raw", Nil, col("id", tags = Seq("pii", "key")))
    val mid = node("model.stg", Seq("source.raw"), col("id", tags = Seq("staged", "pii")))
    val leaf = node("model.final", Seq("model.stg"), col("id", tags = Seq("local")))
    val m = Manifest(Seq(src, mid, leaf))
    val k = Inheritance.buildColumnKnowledgeGraph(m, leaf, settings)
    assert(k("id")("tags") == Seq("local", "pii", "key", "staged"))
  }

  test("meta merges with closest-wins, progenitor first-seen preserved") {
    val src = node("source.raw", Nil,
      col("id", meta = ListMap("owner" -> "team-a", "since" -> "2020")))
    val mid = node("model.stg", Seq("source.raw"),
      col("id", meta = ListMap("owner" -> "team-b")))
    val leaf = node("model.final", Seq("model.stg"), col("id"))
    val m = Manifest(Seq(src, mid, leaf))
    val k = Inheritance.buildColumnKnowledgeGraph(m, leaf, settings)
    val meta = k("id")("meta").asInstanceOf[Map[String, Any]]
    assert(meta("owner") == "team-b") // closest wins
    assert(meta("since") == "2020") // farthest-only key survives
    assert(meta("osmosis_progenitor") == "source.raw")
  }

  test("per-generation guard: first sorted ancestor in a generation wins") {
    val a = node("model.a_first", Nil, col("id", desc = "From a_first"))
    val b = node("model.b_second", Nil, col("id", desc = "From b_second"))
    val leaf = node("model.final", Seq("model.b_second", "model.a_first"), col("id"))
    val m = Manifest(Seq(a, b, leaf))
    val k = Inheritance.buildColumnKnowledgeGraph(m, leaf, settings)
    assert(k("id")("description") == "From a_first") // sorted order, a_first first
    assert(k("id")("meta").asInstanceOf[Map[String, Any]]("osmosis_progenitor") == "model.a_first")
  }

  test("case-variant matching: UPPER local column matches lower ancestor") {
    val src = node("source.raw", Nil, col("customer_id", desc = "Docs"))
    val leaf = node("model.final", Seq("source.raw"), col("CUSTOMER_ID"))
    val m = Manifest(Seq(src, leaf))
    val k = Inheritance.buildColumnKnowledgeGraph(m, leaf, settings)
    assert(k("CUSTOMER_ID")("description") == "Docs")
  }

  test("camelCase variant matches") {
    val src = node("source.raw", Nil, col("customerId", desc = "Docs"))
    val leaf = node("model.final", Seq("source.raw"), col("customer_id"))
    val m = Manifest(Seq(src, leaf))
    val k = Inheritance.buildColumnKnowledgeGraph(m, leaf, settings)
    assert(k("customer_id")("description") == "Docs")
  }

  test("prefix-strip matching via node meta prefix setting") {
    val src = node("source.raw", Nil, col("amount", desc = "Money"))
    val leaf0 = node("model.final", Seq("source.raw"), col("o_amount"))
    val leaf = leaf0.copy(meta = Map("prefix" -> "o_"))
    val m = Manifest(Seq(src, leaf))
    val k = Inheritance.buildColumnKnowledgeGraph(m, leaf, settings)
    assert(k("o_amount")("description") == "Money")
  }

  test("columns unique to the node get self as progenitor") {
    val src = node("source.raw", Nil, col("id", desc = "Docs"))
    val leaf = node("model.final", Seq("source.raw"), col("id"), col("computed_col"))
    val m = Manifest(Seq(src, leaf))
    val k = Inheritance.buildColumnKnowledgeGraph(m, leaf, settings)
    assert(k("computed_col")("meta").asInstanceOf[Map[String, Any]]("osmosis_progenitor")
      == "model.final")
  }

  test("column_default_progenitor override re-inherits from the named ancestor") {
    // With progenitor tracking off, the auto-selected progenitor is
    // None, so the override switches inheritance to source.raw (the
    // reference skips the override only when it equals the current
    // progenitor — core/inheritance.py:788-789).
    val far = node("source.raw", Nil, col("id", desc = "Source doc"))
    val near = node("model.stg", Seq("source.raw"), col("id", desc = "Staging doc"))
    val leaf = node("model.final", Seq("model.stg"),
      col("id", meta = ListMap("column_default_progenitor" -> "source.raw")))
    val m = Manifest(Seq(far, near, leaf))
    val base = EngineSettings() // addProgenitorToMeta = false
    val k = Inheritance.buildColumnKnowledgeGraph(m, leaf, base)
    assert(k("id")("description") == "Source doc")
    // local override marker survives for sync
    val meta = k("id")("meta").asInstanceOf[Map[String, Any]]
    assert(meta("column_default_progenitor") == "source.raw")
  }

  test("override equal to the auto progenitor is a no-op (reference parity)") {
    val far = node("source.raw", Nil, col("id", desc = "Source doc"))
    val near = node("model.stg", Seq("source.raw"), col("id", desc = "Staging doc"))
    val leaf = node("model.final", Seq("model.stg"),
      col("id", meta = ListMap("column_default_progenitor" -> "source.raw")))
    val m = Manifest(Seq(far, near, leaf))
    val k = Inheritance.buildColumnKnowledgeGraph(m, leaf, settings)
    // auto progenitor is already source.raw (farthest first-seen), so
    // the closest description stands
    assert(k("id")("description") == "Staging doc")
    assert(k("id")("meta").asInstanceOf[Map[String, Any]]("osmosis_progenitor") == "source.raw")
  }

  test("skip-inheritance-for-meta-keys filters ancestor meta") {
    val src = node("source.raw", Nil,
      col("id", meta = ListMap("secret" -> "x", "keep" -> "y")))
    val leaf = node("model.final", Seq("source.raw"), col("id"))
    val m = Manifest(Seq(src, leaf))
    val k = Inheritance.buildColumnKnowledgeGraph(m, leaf,
      settings.copy(skipInheritanceForMetaKeys = Seq("secret")))
    val meta = k("id")("meta").asInstanceOf[Map[String, Any]]
    assert(!meta.contains("secret"))
    assert(meta("keep") == "y")
  }

  test("skip-add-tags / skip-merge-meta gate the apply step") {
    val src = node("source.raw", Nil,
      col("id", desc = "Doc", meta = ListMap("k" -> "v"), tags = Seq("t")))
    val leaf = node("model.final", Seq("source.raw"), col("id"))
    val m = Manifest(Seq(src, leaf))
    val applied = Inheritance.inheritUpstreamColumnKnowledge(m, leaf,
      EngineSettings(skipAddTags = true, skipMergeMeta = true))
    assert(applied.columns("id").description.contains("Doc"))
    assert(applied.columns("id").tags.isEmpty)
    assert(applied.columns("id").meta.isEmpty)
  }

  test("ancestor tree: generations bucketed and sorted, cycle-guarded") {
    val a = node("source.a", Nil, col("x"))
    val b = node("model.b", Seq("source.a"), col("x"))
    val c = node("model.c", Seq("model.b", "source.a"), col("x"))
    val m = Manifest(Seq(a, b, c))
    val tree = NodeFilters.ancestorTree(m, c)
    assert(tree(0) == Seq("model.c"))
    // DFS first-visit wins: source.a is reached through model.b at
    // depth 2 before model.c's direct edge is considered
    // (core/inheritance.py:322-330 visited-set behavior).
    assert(tree(1) == Seq("model.b"))
    assert(tree(2) == Seq("source.a"))
  }

  test("a registered external plugin's variant wins an ancestor match (A13)") {
    // no built-in strategy maps legacy_amount -> amt_total; only the
    // third-party plugin's candidate can make this edge exist
    val plugin = new ColumnCandidatePlugin {
      override def getCandidates(name: String, n: NodeMeta,
          s: EngineSettings): Seq[String] =
        if (name == "legacy_amount") Seq("amt_total") else Nil
    }
    val src = node("source.raw", Nil, col("amt_total", desc = "Total amount"))
    val leaf = node("model.final", Seq("source.raw"), col("legacy_amount"))
    val m = Manifest(Seq(src, leaf))
    val before = Inheritance.buildColumnKnowledgeGraph(m, leaf, settings)
    assert(!before("legacy_amount").contains("description"),
      "match must not exist without the plugin")
    ColumnCandidatePlugins.register(plugin)
    try {
      val vs = Inheritance.collectColumnVariants(leaf, settings)("legacy_amount")
      assert(vs.contains("amt_total"), s"plugin variant missing from $vs")
      val k = Inheritance.buildColumnKnowledgeGraph(m, leaf, settings)
      assert(k("legacy_amount")("description") == "Total amount")
    } finally ColumnCandidatePlugins.unregister(plugin)
  }

  test("plugin dispatch is LIFO: external candidates precede built-ins, later registrations precede earlier (A13)") {
    // pluggy calls hookimpls LIFO (core/plugins.py:66-72 registers
    // built-ins first, entrypoints last), so an external plugin's
    // candidate must SHADOW a built-in's under first-present-wins
    val first = new ColumnCandidatePlugin {
      override def getCandidates(name: String, n: NodeMeta,
          s: EngineSettings): Seq[String] = Seq("from_first")
    }
    val second = new ColumnCandidatePlugin {
      override def getCandidates(name: String, n: NodeMeta,
          s: EngineSettings): Seq[String] = Seq("from_second")
    }
    val leaf = node("model.final", Nil, col("order_id"))
    ColumnCandidatePlugins.register(first)
    ColumnCandidatePlugins.register(second)
    try {
      val vs = Inheritance.collectColumnVariants(leaf, settings)("order_id")
      val iSecond = vs.indexOf("from_second")
      val iFirst = vs.indexOf("from_first")
      val iBuiltIn = vs.indexOf("ORDER_ID") // FuzzyCaseMatching's UPPER variant
      assert(iSecond >= 0 && iFirst >= 0 && iBuiltIn >= 0, s"variants: $vs")
      assert(iSecond < iFirst, s"later registration must dispatch first: $vs")
      assert(iFirst < iBuiltIn, s"external plugins must precede built-ins: $vs")
      // identity column name itself still leads the list
      assert(vs.head == "order_id")
    } finally {
      ColumnCandidatePlugins.unregister(first)
      ColumnCandidatePlugins.unregister(second)
    }
  }

  test("ServiceLoader discovers classpath plugins (A13)") {
    // TestDiscoveredPlugin rides META-INF/services on the test
    // classpath - the setuptools-entrypoint analog - and its
    // <name>_svc variant closes a match no built-in can
    val src = node("source.raw", Nil, col("total_svc", desc = "Via service"))
    val leaf = node("model.final", Seq("source.raw"), col("total"))
    val vs = Inheritance.collectColumnVariants(leaf, settings)("total")
    assert(vs.contains("total_svc"), s"discovered variant missing from $vs")
    val k = Inheritance.buildColumnKnowledgeGraph(
      Manifest(Seq(src, leaf)), leaf, settings)
    assert(k("total")("description") == "Via service")
  }

  test("topological sort is deterministic and detects cycles") {
    val a = node("model.a", Nil, col("x"))
    val b = node("model.b", Seq("model.a"), col("x"))
    val c = node("model.c", Seq("model.a"), col("x"))
    val d = node("model.d", Seq("model.b", "model.c"), col("x"))
    val sorted = NodeFilters.topologicalSort(Seq(d, c, b, a)).map(_.uniqueId)
    assert(sorted == Seq("model.a", "model.b", "model.c", "model.d"))
    val x = node("model.x", Seq("model.y"), col("x"))
    val y = node("model.y", Seq("model.x"), col("x"))
    assertThrows[IllegalStateException](NodeFilters.topologicalSort(Seq(x, y)))
  }

  test("ancestor columns are looked up through a hash index, not a list walk") {
    val n = node("model.p.wide", Nil, (1 to 50).map(i => col(s"c$i")): _*)
    assert(n.columnIndex.isInstanceOf[scala.collection.immutable.HashMap[_, _]])
    assert(n.columnIndex.keySet == n.columns.keySet)
    assert(Inheritance.findMatchingColumn(n, Seq("missing", "c7", "c8")).map(_.name)
      .contains("c7"))
  }
}
