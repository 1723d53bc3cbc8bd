package graft.core

import scala.collection.immutable.ListMap

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests pinning the settings chain and the column knowledge
  * graph to their reference copies in [[LegacySettingsResolver]] and
  * [[LegacyInheritance]]. Every case is drawn from a fixed seed, so a
  * failure names the seed that reproduces it.
  */
class PlaneAEquivalenceSpec extends AnyFunSuite {

  private def forSeeds[A](gen: Gen[A], n: Int)(f: A => Unit): Unit =
    (1 to n).foreach { i =>
      val a = gen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      withClue(s"seed $i: ")(f(a))
    }

  private val TypedNames = Seq(
    "add-progenitor-to-meta", "use-unrendered-descriptions", "skip-inherit-descriptions",
    "skip-add-tags", "skip-merge-meta", "force-inherit-descriptions",
    "add-inheritance-for-specified-keys", "skip-inheritance-for-meta-keys",
    "numeric-precision-and-scale", "string-length", "output-to-lower", "output-to-upper",
    "sort-by", "prefix", "fusion-compat")
  private val OtherNames = Seq("skip-add-columns", "skip-add-data-types",
    "dbt-osmosis", "dbt-osmosis-path", "my-custom_knob", "x")

  private val name: Gen[String] = Gen.oneOf(TypedNames ++ OtherNames)

  private val value: Gen[Any] = Gen.oneOf(
    Gen.oneOf(true, false),
    Gen.oneOf("true", "FALSE", "alphabetical", "database", "pfx_", ""),
    Gen.listOfN(2, Gen.oneOf("owner", "pii", "policy_tags")),
    Gen.const(ListMap("nested" -> 1)))

  /** A key for `name` in any accepted spelling, or in none. */
  private def spelling(name: String): Gen[String] = {
    val kebab = name.replace('_', '-')
    val snake = name.replace('-', '_')
    Gen.oneOf(kebab, snake, s"dbt-osmosis-$kebab", s"dbt_osmosis_$snake", name)
  }

  private val optionsKey = Gen.oneOf("dbt-osmosis-options", "dbt_osmosis_options")

  /** A settings source over a few names: direct and prefixed keys,
    * plus up to two options objects.
    */
  private def source(names: Seq[String]): Gen[Map[String, Any]] = for {
    direct <- Gen.listOf(for {
      n <- Gen.oneOf(names); k <- spelling(n); v <- value
    } yield k -> v).map(_.take(4))
    options <- Gen.listOfN(2, for {
      key <- optionsKey
      entries <- Gen.listOf(for {
        n <- Gen.oneOf(names); v <- value
        k <- Gen.oneOf(n.replace('_', '-'), n.replace('-', '_'))
      } yield k -> v).map(_.take(3))
      asMap <- Gen.oneOf(true, true, false)
    } yield key -> (if (asMap) ListMap(entries: _*) else "not-a-map"))
    withOptions <- Gen.choose(0, 2)
    empty <- Gen.oneOf(false, false, true)
  } yield if (empty) Map.empty[String, Any]
    else ListMap(direct ++ options.take(withOptions): _*)

  private def vars(names: Seq[String]): Gen[Map[String, Any]] = for {
    top <- source(names)
    sections <- Gen.listOfN(2, for {
      key <- Gen.oneOf("dbt-osmosis", "dbt_osmosis")
      body <- source(names)
    } yield key -> body)
    n <- Gen.choose(0, 2)
  } yield ListMap(top.toSeq ++ sections.take(n): _*)

  private val engineSettings: Gen[EngineSettings] = for {
    bools <- Gen.listOfN(10, Gen.oneOf(false, false, true))
    keys <- Gen.oneOf(Nil, Seq("policy_tags"))
    skip <- Gen.oneOf(Nil, Seq("owner"))
    sortBy <- Gen.oneOf("database", "alphabetical")
    prefix <- Gen.option(Gen.const("pfx_"))
  } yield EngineSettings(
    addProgenitorToMeta = bools(0), useUnrenderedDescriptions = bools(1),
    skipInheritDescriptions = bools(2), skipAddTags = bools(3), skipMergeMeta = bools(4),
    forceInheritDescriptions = bools(5), addInheritanceForSpecifiedKeys = keys,
    skipInheritanceForMetaKeys = skip, numericPrecisionAndScale = bools(6),
    stringLength = bools(7), outputToLower = bools(8), fusionCompat = bools(9),
    sortBy = sortBy, prefix = prefix)

  private case class ResolveCase(settings: EngineSettings, node: Option[NodeMeta],
      column: Option[String], query: String)

  private val resolveCase: Gen[ResolveCase] = for {
    names <- Gen.listOfN(3, name)
    base <- engineSettings
    supplementary <- source(names)
    vs <- vars(names)
    colMeta <- source(names)
    colConfigMeta <- source(names)
    nodeMeta <- source(names)
    nodeConfig <- source(names)
    nodeConfigMeta <- source(names)
    unrendered <- source(names)
    hasNode <- Gen.oneOf(true, true, true, false)
    column <- Gen.oneOf(Some("c"), Some("missing"), None)
    query <- Gen.oneOf(names).flatMap(n =>
      Gen.oneOf(n, n.replace('-', '_'), n.replace('_', '-')))
  } yield {
    val col = ColumnMeta("c", meta = ListMap(colMeta.toSeq: _*),
      config = if (colConfigMeta.isEmpty) Map.empty else Map("meta" -> colConfigMeta))
    val node = NodeMeta("model.p.m", "m", "model", meta = nodeMeta,
      config = if (nodeConfigMeta.isEmpty) nodeConfig
               else nodeConfig.updated("meta", nodeConfigMeta),
      unrenderedConfig = unrendered, columns = ListMap("c" -> col))
    ResolveCase(base.copy(supplementary = supplementary, vars = vs),
      Some(node).filter(_ => hasNode), column, query)
  }

  test("resolve matches the reference chain over random sources and spellings") {
    forSeeds(resolveCase, 2000) { c =>
      val expected = LegacySettingsResolver.resolve(c.query, c.settings, c.node, c.column)
      assert(SettingsResolver.resolve(c.query, c.settings, c.node, c.column) == expected)
      assert(SettingsResolver.resolve(Setting.named(c.query), c.settings, c.node, c.column)
        == expected)
      assert(SettingsResolver.resolveBool(c.query, fallback = true, c.settings, c.node,
        c.column) == LegacySettingsResolver.resolveBool(c.query, fallback = true,
        c.settings, c.node, c.column))
      assert(SettingsResolver.resolveSeq(c.query, Seq("fb"), c.settings, c.node,
        c.column) == LegacySettingsResolver.resolveSeq(c.query, Seq("fb"),
        c.settings, c.node, c.column))
      assert(SettingsResolver.resolveString(c.query, Some("fb"), c.settings, c.node,
        c.column) == LegacySettingsResolver.resolveString(c.query, Some("fb"),
        c.settings, c.node, c.column))
    }
  }

  test("every setting constant resolves like its name") {
    val constants = Seq(Setting.AddProgenitorToMeta, Setting.UseUnrenderedDescriptions,
      Setting.SkipInheritDescriptions, Setting.SkipAddTags, Setting.SkipMergeMeta,
      Setting.ForceInheritDescriptions, Setting.AddInheritanceForSpecifiedKeys,
      Setting.SkipInheritanceForMetaKeys, Setting.NumericPrecisionAndScale,
      Setting.StringLength, Setting.OutputToLower, Setting.OutputToUpper, Setting.SortBy,
      Setting.Prefix, Setting.FusionCompat, Setting.SkipAddColumns, Setting.SkipAddDataTypes,
      Setting.DbtOsmosis, Setting.DbtOsmosisPath)
    assert(constants.map(_.kebab).toSet == (TypedNames ++ OtherNames.take(4)).toSet)
    forSeeds(resolveCase, 300) { c =>
      for (s <- constants)
        assert(SettingsResolver.resolve(s, c.settings, c.node, c.column) ==
          LegacySettingsResolver.resolve(s.snake, c.settings, c.node, c.column), s.kebab)
    }
  }

  // --- column knowledge graph over random DAGs ----------------------

  private val BaseColumns = Seq("id", "customer_id", "order_total", "status", "amount")
  private val Placeholders = Seq("", "Pending further documentation", "Undefined")

  private def caseVariant(c: String): Gen[String] =
    Gen.oneOf(Seq(c, c) ++ Inheritance.caseVariants(c))

  private def metaMap(ancestors: Seq[String]): Gen[ListMap[String, Any]] = for {
    entries <- Gen.listOf(Gen.oneOf[Gen[(String, Any)]](
      Gen.oneOf("a", "b").map("owner" -> _),
      Gen.const("pii" -> true),
      Gen.oneOf(ancestors :+ "model.p.self").map("osmosis_progenitor" -> _),
      Gen.oneOf(ancestors :+ "model.p.ghost").map("column_default_progenitor" -> _),
      Gen.oneOf(true, false).map("dbt-osmosis-add-progenitor-to-meta" -> _),
      Gen.oneOf(true, false).map("force_inherit_descriptions" -> _),
      Gen.const("skip-inheritance-for-meta-keys" -> Seq("pii")),
      Gen.const("dbt_osmosis_options" ->
        ListMap("add-inheritance-for-specified-keys" -> Seq("policy_tags"))),
      Gen.oneOf(true, false).map("skip-add-tags" -> _)).flatMap(identity)).map(_.take(3))
  } yield ListMap(entries: _*)

  private def column(name: String, ancestors: Seq[String]): Gen[ColumnMeta] = for {
    desc <- Gen.option(Gen.oneOf(Placeholders ++ Seq(s"doc of $name", "shared text")))
    meta <- metaMap(ancestors)
    tags <- Gen.someOf("pk", "fk", "x").map(_.toSeq)
    cfgMeta <- Gen.oneOf(Gen.const(ListMap.empty[String, Any]), metaMap(ancestors))
    cfgTags <- Gen.someOf("cfg", "pk").map(_.toSeq)
    dtype <- Gen.option(Gen.oneOf("BIGINT", "varchar"))
  } yield ColumnMeta(name, description = desc, dataType = dtype, meta = meta, tags = tags,
    config = ListMap[String, Any]() ++
      (if (cfgMeta.nonEmpty) Seq("meta" -> cfgMeta) else Nil) ++
      (if (cfgTags.nonEmpty) Seq("tags" -> cfgTags) else Nil))

  private def node(i: Int, earlier: Seq[String]): Gen[NodeMeta] = for {
    kind <- if (i == 0) Gen.const("seed") else Gen.oneOf("model", "model", "seed", "source")
    deps <- Gen.someOf(earlier).map(_.toSeq)
    extraDeps <- Gen.someOf("model.p.ghost", "macro.p.helper", "test.p.t")
    picked <- Gen.someOf(BaseColumns)
    // one or two case variants of each picked column
    twice <- Gen.someOf(picked)
    names <- Gen.sequence[Seq[String], String]((picked ++ twice).map(caseVariant))
    cols <- Gen.sequence[Seq[ColumnMeta], ColumnMeta](
      names.distinct.map(column(_, deps.toSeq)))
    nodeMeta <- metaMap(deps.toSeq)
    defaultProgenitor <- Gen.option(Gen.oneOf(earlier :+ "model.p.ghost"))
    unrendered <- Gen.listOf(Gen.oneOf(names.distinct :+ "id").flatMap(c =>
      Gen.oneOf[Map[String, Any]](
        Map("description" -> s"{{ doc('$c') }}"),
        Map("policy_tags" -> Seq("t1")),
        Map("description" -> ""))
        .map(c -> _))).map(_.take(2))
  } yield {
    val uid = s"$kind.p.n$i"
    NodeMeta(uid, s"n$i", kind,
      deps = if (i == 0) Nil else (deps ++ extraDeps).toSeq,
      meta = nodeMeta ++ defaultProgenitor.map("default_progenitor" -> _),
      columns = ListMap(cols.map(c => c.name -> c): _*),
      unrenderedColumns = unrendered.toMap)
  }

  private val dag: Gen[Seq[NodeMeta]] = Gen.choose(2, 7).flatMap { n =>
    (0 until n).foldLeft(Gen.const(Vector.empty[NodeMeta])) { (acc, i) =>
      acc.flatMap(built => node(i, built.map(_.uniqueId)).map(built :+ _))
    }
  }

  private val dagCase: Gen[(Seq[NodeMeta], EngineSettings)] = for {
    nodes <- dag
    s <- engineSettings
    names <- Gen.listOfN(3, name)
    vs <- vars(names)
  } yield (nodes, s.copy(vars = vs))

  test("column knowledge graph matches the reference over random DAGs") {
    forSeeds(dagCase, 400) { case (nodes, settings) =>
      val manifest = Manifest(nodes)
      for (n <- nodes) {
        assert(Inheritance.buildColumnKnowledgeGraph(manifest, n, settings) ==
          LegacyInheritance.buildColumnKnowledgeGraph(manifest, n, settings), n.uniqueId)
        val inherited = Inheritance.inheritUpstreamColumnKnowledge(manifest, n, settings)
        val expected = LegacyInheritance.inheritUpstreamColumnKnowledge(manifest, n, settings)
        assert(inherited == expected, n.uniqueId)
        assert(inherited.columns.keys.toSeq == expected.columns.keys.toSeq, n.uniqueId)
      }
    }
  }

  // --- transform pipeline over random DAGs --------------------------

  private case class PipelineCase(nodes: Seq[NodeMeta],
      incoming: Map[String, ListMap[String, Introspection.IntrospectedColumn]],
      filter: NodeFilters.NodeFilter, settings: EngineSettings)

  /** A node whose uid sorts at random, so that Kahn's tie order puts
    * some nodes ahead of ancestors they reach only through a node that
    * is not a candidate (ephemeral, loom-injected, or outside the
    * filter).
    */
  private def pipelineNode(id: String, earlier: Seq[String]): Gen[NodeMeta] = for {
    kind <- Gen.frequency(6 -> "model", 1 -> "seed", 1 -> "source")
    k <- Gen.frequency(3 -> 0, 4 -> 1, 2 -> 2)
    deps <- Gen.pick(math.min(k, earlier.size), earlier).map(_.toSeq)
    picked <- Gen.someOf(BaseColumns)
    names <- Gen.sequence[Seq[String], String](picked.toSeq.map(caseVariant))
    cols <- Gen.sequence[Seq[ColumnMeta], ColumnMeta](names.distinct.map(column(_, deps)))
    nodeMeta <- metaMap(deps)
    ephemeral <- Gen.frequency(5 -> false, 1 -> true)
    loom <- Gen.frequency(9 -> false, 1 -> true)
    folder <- Gen.oneOf("staging", "marts")
  } yield NodeMeta(s"$kind.p.$id", id, kind, fqn = Seq("p", folder, id), deps = deps,
    meta = nodeMeta ++ (if (loom) Seq("dbt-osmosis-loom-injected" -> true) else Nil),
    columns = ListMap(cols.map(c => c.name -> c): _*),
    materialized = if (ephemeral) "ephemeral" else "view")

  /** The warehouse columns of a relation: some of the base columns
    * plus one the YAML never lists, in random order.
    */
  private val relation: Gen[ListMap[String, Introspection.IntrospectedColumn]] = for {
    picked <- Gen.someOf(BaseColumns :+ "loaded_at")
    keys <- Gen.listOfN(picked.size, Gen.choose(0, 1000))
  } yield ListMap(picked.toSeq.zip(keys).sortBy(_._2).map(_._1).zipWithIndex.map {
    case (c, i) => c -> Introspection.IntrospectedColumn(c, "BIGINT", i)
  }: _*)

  private val pipelineCase: Gen[PipelineCase] = for {
    n <- Gen.choose(2, 40)
    keys <- Gen.listOfN(n, Gen.choose(0, 999))
    ids = keys.zipWithIndex.map { case (k, i) => f"n$k%03d_$i" }
    nodes <- ids.foldLeft(Gen.const(Vector.empty[NodeMeta])) { (acc, id) =>
      acc.flatMap(built => pipelineNode(id, built.map(_.uniqueId)).map(built :+ _))
    }
    relations <- Gen.listOfN(n, relation)
    s <- engineSettings
    filter <- Gen.oneOf(NodeFilters.NodeFilter(), NodeFilters.NodeFilter(),
      NodeFilters.NodeFilter(fqnPrefixes = Seq("marts")),
      NodeFilters.NodeFilter(includeExternal = true))
  } yield PipelineCase(nodes, nodes.map(_.uniqueId).zip(relations).toMap, filter, s)

  /** Reads every ancestor: one past the longest ancestor description,
    * so a node that saw an ancestor's update, or missed one, differs.
    */
  private val depth: (Manifest, NodeMeta) => NodeMeta = (m, n) => {
    val longest = NodeFilters.ancestorTree(m, n).values.flatten
      .filter(_ != n.uniqueId).flatMap(m.get).map(_.description.length).maxOption
    n.copy(description = "d" * (longest.getOrElse(0) + 1))
  }

  private def steps(c: PipelineCase): Seq[(String, (Manifest, NodeMeta) => NodeMeta)] = Seq(
    "inject" -> ((_, n) => Transforms.injectMissingColumns(n, c.incoming(n.uniqueId), c.settings)),
    "inherit" -> ((m, n) => Inheritance.inheritUpstreamColumnKnowledge(m, n, c.settings)),
    "depth" -> depth,
    "sort" -> ((_, n) => Transforms.sortColumnsAsConfigured(n, c.incoming(n.uniqueId), c.settings)),
    "inherit-again" -> ((m, n) => Inheritance.inheritUpstreamColumnKnowledge(m, n, c.settings)))

  /** What a run shows: the manifest with each node's column order and
    * each step's mutation count, or the exception it threw.
    */
  private def outcome(run: => Transforms.PipelineResult): Any =
    scala.util.Try(run) match {
      case scala.util.Success(r) => (r.manifest, r.manifest.nodes.values.map(n =>
        n.uniqueId -> n.columns.keys.toSeq).toSeq, r.steps.map(s => s.name -> s.mutated))
      case scala.util.Failure(e) => (e.getClass, e.getMessage)
    }

  private def agree(c: PipelineCase,
      steps: Seq[(String, (Manifest, NodeMeta) => NodeMeta)]): Unit = {
    val manifest = Manifest(c.nodes)
    assert(outcome(Transforms.Pipeline(steps).run(manifest, c.filter)) ==
      outcome(LegacyPipeline(steps).run(manifest, c.filter)))
  }

  test("the pipeline's waves give the sequential pipeline's manifest and counts") {
    var widest = 0
    var laterAncestor = false
    forSeeds(pipelineCase, 300) { c =>
      agree(c, steps(c))
      val m = Manifest(c.nodes)
      val ordered = NodeFilters.topologicalSort(NodeFilters.candidates(m, c.filter))
      widest = math.max(widest,
        Transforms.Pipeline.waves(m, ordered.toIndexedSeq).map(_.size).maxOption.getOrElse(0))
      val position = ordered.map(_.uniqueId).zipWithIndex.toMap
      laterAncestor ||= ordered.exists(x => NodeFilters.ancestorTree(m, x).values.flatten
        .exists(a => position.get(a).exists(_ > position(x.uniqueId))))
    }
    // the cases reach wide waves and ancestors that sort after a node
    assert(widest >= 5)
    assert(laterAncestor)
  }

  test("the pipeline rethrows the first failure in topological order") {
    forSeeds(pipelineCase, 300) { c =>
      val boom: (Manifest, NodeMeta) => NodeMeta = (m, n) =>
        if (n.name.hashCode % 3 == 0 || depth(m, n).description.length > 3)
          throw new IllegalStateException(s"boom ${n.uniqueId}")
        else n
      val (before, after) = steps(c).splitAt(3)
      agree(c, before ++ Seq("boom" -> boom) ++ after)
    }
  }
}
