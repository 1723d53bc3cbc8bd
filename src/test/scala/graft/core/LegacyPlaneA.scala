package graft.core

import scala.collection.immutable.ListMap

/** Reference copies of the settings chain and the column knowledge
  * graph as they were before both were reworked to resolve each
  * setting once per (node, column) and to look ancestor columns up
  * through a hashed index, and of the sequential transform pipeline
  * ([[LegacyPipeline]]). Only the names differ from that code.
  * [[PlaneAEquivalenceSpec]] checks the current implementation
  * against these over random inputs.
  */
object LegacySettingsResolver {

  private def kebab(name: String): String = name.replace('_', '-')
  private def snake(name: String): String = name.replace('-', '_')

  /** All accepted spellings of a setting name (kept for callers). */
  private[core] def keyVariants(name: String): Seq[String] =
    Seq(name, kebab(name), snake(name),
      s"dbt-osmosis-${kebab(name)}", s"dbt_osmosis_${snake(name)}").distinct

  private def prefixedLookup(m: Map[String, Any], name: String): Option[Any] =
    m.get(s"dbt-osmosis-${kebab(name)}")
      .orElse(m.get(s"dbt_osmosis_${snake(name)}"))

  private def directLookup(m: Map[String, Any], name: String): Option[Any] =
    m.get(kebab(name)).orElse(m.get(snake(name)))

  private def optionsLookup(m: Map[String, Any], name: String): Option[Any] =
    Seq("dbt-osmosis-options", "dbt_osmosis_options").view.flatMap { key =>
      m.get(key) match {
        case Some(opts: Map[_, _]) =>
          directLookup(opts.asInstanceOf[Map[String, Any]], name)
        case _ => None
      }
    }.headOption

  /** One source in the chain: prefixed → (direct, when allowed) →
    * options object (core/introspection.py:891-916 `dict_value`).
    */
  private def lookup(m: Map[String, Any], name: String,
      directKeys: Boolean = true): Option[Any] =
    prefixedLookup(m, name)
      .orElse(if (directKeys) directLookup(m, name) else None)
      .orElse(optionsLookup(m, name))

  /** Project-vars source (core/introspection.py:552-663): a
    * `dbt-osmosis:`/`dbt_osmosis:` section first (direct → options
    * within it), then prefixed/direct top-level vars.
    */
  private def varsLookup(vars: Map[String, Any], name: String): Option[Any] = {
    val section = Seq("dbt-osmosis", "dbt_osmosis").view.flatMap { key =>
      vars.get(key) match {
        case Some(s: Map[_, _]) =>
          val sm = s.asInstanceOf[Map[String, Any]]
          directLookup(sm, name).orElse(optionsLookup(sm, name))
        case _ => None
      }
    }.headOption
    section.orElse(lookup(vars, name))
  }

  private def asMap(v: Any): Map[String, Any] = v match {
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
    case _ => Map.empty
  }

  private val Defaults = EngineSettings()

  /** Typed accessors for the engine-settings fields addressable by
    * name — level 6 of the chain. A typed value counts as EXPLICIT
    * (and therefore beats the supplementary file and project vars,
    * reference core/introspection.py:263-292) only when it differs
    * from the dataclass default, exactly like the reference's
    * non-default check.
    */
  private val TypedAccessors: Map[String, EngineSettings => Any] = Map(
    "add-progenitor-to-meta" -> (_.addProgenitorToMeta),
    "use-unrendered-descriptions" -> (_.useUnrenderedDescriptions),
    "skip-inherit-descriptions" -> (_.skipInheritDescriptions),
    "skip-add-tags" -> (_.skipAddTags),
    "skip-merge-meta" -> (_.skipMergeMeta),
    "force-inherit-descriptions" -> (_.forceInheritDescriptions),
    "add-inheritance-for-specified-keys" -> (_.addInheritanceForSpecifiedKeys),
    "skip-inheritance-for-meta-keys" -> (_.skipInheritanceForMetaKeys),
    "numeric-precision-and-scale" -> (_.numericPrecisionAndScale),
    "string-length" -> (_.stringLength),
    "output-to-lower" -> (_.outputToLower),
    "output-to-upper" -> (_.outputToUpper),
    "sort-by" -> (_.sortBy),
    "prefix" -> (_.prefix),
    "fusion-compat" -> (_.fusionCompat))

  private def explicitTyped(name: String, settings: EngineSettings): Option[Any] =
    TypedAccessors.get(kebab(name)).flatMap { acc =>
      val v = acc(settings)
      if (v != acc(Defaults)) Some(v) else None
    }

  /** Resolve `name` for (node, column) through the full precedence
    * chain (see [[EngineSettings]] scaladoc): node-level sources
    * (levels 1-5), then a NON-DEFAULT typed engine setting (level 6 —
    * explicit configuration beats the project files), then the
    * supplementary file and project vars (7-8). Callers' fallbacks in
    * `resolveBool`/`Seq`/`String` are level 9.
    */
  def resolve(name: String, settings: EngineSettings,
      node: Option[NodeMeta] = None, column: Option[String] = None): Option[Any] = {
    // column config.meta merges OVER column meta (dbt >= 1.10 shape;
    // reference _get_effective_column_meta, introspection.py:316-323)
    val columnMeta: Map[String, Any] = (for {
      n <- node; c <- column; cm <- n.columns.get(c)
    } yield (cm.meta: Map[String, Any]) ++ asMap(cm.config.getOrElse("meta", null)))
      .getOrElse(Map.empty)
    val nodeMeta = node.map(_.meta).getOrElse(Map.empty)
    val nodeConfig = node.map(_.config).getOrElse(Map.empty)
    val nodeConfigMeta = asMap(nodeConfig.getOrElse("meta", null))
    val unrendered = node.map(_.unrenderedConfig).getOrElse(Map.empty)
    lookup(columnMeta, name)
      .orElse(lookup(nodeMeta, name))
      .orElse(lookup(nodeConfig, name, directKeys = false))
      .orElse(lookup(nodeConfigMeta, name))
      .orElse(lookup(unrendered, name, directKeys = false))
      .orElse(explicitTyped(name, settings))
      .orElse(lookup(settings.supplementary, name))
      .orElse(varsLookup(settings.vars, name))
  }

  def resolveBool(name: String, fallback: Boolean, settings: EngineSettings,
      node: Option[NodeMeta] = None, column: Option[String] = None): Boolean =
    resolve(name, settings, node, column) match {
      case Some(b: Boolean) => b
      case Some(s: String) => s.equalsIgnoreCase("true")
      case _ => fallback
    }

  def resolveSeq(name: String, fallback: Seq[String], settings: EngineSettings,
      node: Option[NodeMeta] = None, column: Option[String] = None): Seq[String] =
    resolve(name, settings, node, column) match {
      case Some(s: Seq[_]) => s.map(_.toString)
      case Some(s: String) => Seq(s)
      case _ => fallback
    }

  def resolveString(name: String, fallback: Option[String], settings: EngineSettings,
      node: Option[NodeMeta] = None, column: Option[String] = None): Option[String] =
    resolve(name, settings, node, column) match {
      case Some(s: String) => Some(s)
      case _ => fallback
    }
}

object LegacyInheritance {

  /** Dynamic column-knowledge document. */
  type KDoc = Map[String, Any]

  private def asMap(v: Any): Map[String, Any] = v match {
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
    case _ => Map.empty
  }
  private def asSeq(v: Any): Seq[String] = v match {
    case s: Seq[_] => s.map(_.toString)
    case _ => Nil
  }

  /** Primary items, then unseen secondary items, original order
    * (core/inheritance.py:41-50).
    */
  def orderPreservingUnion(primary: Seq[String], secondary: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    (primary.iterator ++ secondary.iterator).foreach(seen += _)
    seen.toSeq
  }

  /** Case variants for fuzzy upstream matching (core/plugins.py:31-43):
    * lower, UPPER, camelCase, PascalCase.
    */
  def caseVariants(name: String): Seq[String] = {
    val camel = "_(.)".r.replaceAllIn(name, m => m.group(1).toUpperCase)
    val pascal = if (camel.nonEmpty) camel.head.toUpper +: camel.tail else camel
    Seq(name.toLowerCase, name.toUpperCase, camel, pascal)
  }

  /** Per-column candidate list: the name itself, then every
    * registered [[ColumnCandidatePlugin]]'s contributions in pluggy's
    * LIFO dispatch order ([[ColumnCandidatePlugins.all]]) — latest
    * programmatic registrations first, then classpath-discovered
    * services, then the built-ins reversed (FuzzyPrefixMatching
    * before FuzzyCaseMatching; core/plugins.py:31-72) — so under
    * first-present-wins an external plugin's candidate shadows a
    * built-in's (collect at core/inheritance.py:391-405).
    */
  def collectColumnVariants(node: NodeMeta, settings: EngineSettings): ListMap[String, Seq[String]] =
    ListMap(node.columns.keys.toSeq.map { name =>
      name -> (name +: ColumnCandidatePlugins.all
        .flatMap(_.getCandidates(name, node, settings))).distinct
    }: _*)

  /** First variant present in the ancestor's columns wins
    * (core/inheritance.py:591-597).
    */
  def findMatchingColumn(ancestor: NodeMeta, variants: Seq[String]): Option[ColumnMeta] =
    variants.collectFirst {
      case v if ancestor.columns.contains(v) => ancestor.columns(v)
    }

  /** Lift config.meta/config.tags into the effective meta/tags fields
    * (core/introspection.py:314-338).
    */
  private def applyEffectiveColumnMetadata(doc: KDoc): KDoc = {
    val config = asMap(doc.getOrElse("config", Map.empty))
    val effMeta = asMap(doc.getOrElse("meta", Map.empty)) ++ asMap(config.getOrElse("meta", Map.empty))
    val effTags = orderPreservingUnion(asSeq(doc.getOrElse("tags", Nil)),
      asSeq(config.getOrElse("tags", Nil)))
    var out = doc
    if (effMeta.nonEmpty) out = out.updated("meta", effMeta)
    if (effTags.nonEmpty) out = out.updated("tags", effTags)
    out
  }

  /** Normalize one local column into its initial knowledge document:
    * effective meta/tags lifted, self-referential progenitor cleared,
    * empty scalars/collections dropped (core/inheritance.py:96-120).
    */
  def initializeColumnKnowledge(column: ColumnMeta, node: NodeMeta): KDoc = {
    var doc = applyEffectiveColumnMetadata(column.toDoc)
    val meta = asMap(doc.getOrElse("meta", Map.empty))
    if (meta.get("osmosis_progenitor").contains(node.uniqueId)) {
      val cleaned = meta - "osmosis_progenitor"
      doc = if (cleaned.isEmpty) doc - "meta" else doc.updated("meta", cleaned)
    }
    doc.filter {
      case (_, "") => false
      case (_, s: Seq[_]) if s.isEmpty => false
      case (_, m: Map[_, _]) if m.isEmpty => false
      case _ => true
    }
  }

  /** Build the metadata edge contributed by a matched ancestor column
    * (core/inheritance.py:433-495): effective meta/tags, progenitor
    * stamp, unrendered-description swap, configured extra keys.
    */
  def buildGraphEdge(node: NodeMeta, name: String, incoming: ColumnMeta,
      ancestor: NodeMeta, variants: Seq[String], settings: EngineSettings): KDoc = {
    var edge = applyEffectiveColumnMetadata(incoming.toDoc)

    if (LegacySettingsResolver.resolveBool("add-progenitor-to-meta",
        settings.addProgenitorToMeta, settings, Some(node), Some(name))) {
      val meta = asMap(edge.getOrElse("meta", Map.empty))
        .updated("osmosis_progenitor", ancestor.uniqueId)
      edge = edge.updated("meta", meta)
    }

    def unrendered(key: String): Option[Any] =
      variants.iterator.flatMap(v => ancestor.unrenderedColumns.get(v))
        .flatMap(_.get(key)).nextOption()

    if (LegacySettingsResolver.resolveBool("use-unrendered-descriptions",
        settings.useUnrenderedDescriptions, settings, Some(node), Some(name)))
      unrendered("description").collect { case s: String if s.nonEmpty =>
        edge = edge.updated("description", s)
      }

    for (key <- LegacySettingsResolver.resolveSeq("add-inheritance-for-specified-keys",
        settings.addInheritanceForSpecifiedKeys, settings, Some(node), Some(name)))
      unrendered(key) match {
        case Some(v) => edge = edge.updated(key, v)
        case None => // keep the rendered value already present, if any
      }
    edge
  }

  /** Drop placeholders/empties from an edge (core/inheritance.py:541-589). */
  def cleanGraphEdge(edge: KDoc, generation: Int, node: NodeMeta, name: String,
      settings: EngineSettings): KDoc = {
    var out = edge
    val desc = out.get("description")
    val isPlaceholder = desc.exists {
      case s: String => settings.placeholders.contains(s)
      case _ => false
    }
    val forceGen0 = generation == 0 && LegacySettingsResolver.resolveBool(
      "force_inherit_descriptions", settings.forceInheritDescriptions,
      settings, Some(node), Some(name))
    if (isPlaceholder || forceGen0 || desc.contains("")) out -= "description"
    if (asSeq(out.getOrElse("tags", Nil)).isEmpty) out -= "tags"
    if (asMap(out.getOrElse("meta", Map.empty)).isEmpty && out.contains("meta")) out -= "meta"
    val config = asMap(out.getOrElse("config", Map.empty))
    if (out.contains("config")) {
      var c = config
      if (asMap(c.getOrElse("meta", Map.empty)).isEmpty) c -= "meta"
      if (asSeq(c.getOrElse("tags", Nil)).isEmpty) c -= "tags"
      out = if (c.isEmpty) out - "config" else out.updated("config", c)
    }
    out.filter { case (_, v) => v != null }
  }

  /** Remove configured meta keys from an inherited edge
    * (core/inheritance.py:498-538).
    */
  def filterSkippedMetaKeys(edge: KDoc, node: NodeMeta, name: String,
      settings: EngineSettings): KDoc = {
    val skipped = LegacySettingsResolver.resolveSeq("skip-inheritance-for-meta-keys",
      settings.skipInheritanceForMetaKeys, settings, Some(node), Some(name)).toSet
    if (skipped.isEmpty) return edge
    var out = edge
    val meta = asMap(out.getOrElse("meta", Map.empty)) -- skipped
    if (out.contains("meta"))
      out = if (meta.isEmpty) out - "meta" else out.updated("meta", meta)
    val config = asMap(out.getOrElse("config", Map.empty))
    if (out.contains("config")) {
      val cMeta = asMap(config.getOrElse("meta", Map.empty)) -- skipped
      var c = config
      if (config.contains("meta"))
        c = if (cMeta.isEmpty) c - "meta" else c.updated("meta", cMeta)
      out = if (c.isEmpty) out - "config" else out.updated("config", c)
    }
    out
  }

  /** Merge an edge into the accumulating node document
    * (core/inheritance.py:600-654): order-preserving tag union, meta
    * merge preserving the first-seen (farthest) progenitor, config
    * meta/tags likewise, then remaining edge keys overwrite.
    */
  def mergeGraphNodeData(current: KDoc, edge: KDoc): KDoc = {
    var e = edge
    val mergedTags = orderPreservingUnion(
      asSeq(current.getOrElse("tags", Nil)), asSeq(e.getOrElse("tags", Nil)))
    e -= "tags"
    if (mergedTags.nonEmpty) e = e.updated("tags", mergedTags)

    val currentMeta = asMap(current.getOrElse("meta", Map.empty))
    val edgeMeta = asMap(e.getOrElse("meta", Map.empty))
    e -= "meta"
    val progenitor = currentMeta.get("osmosis_progenitor")
    val mergedMeta0 = currentMeta ++ edgeMeta
    val mergedMeta = progenitor.fold(mergedMeta0)(p => mergedMeta0.updated("osmosis_progenitor", p))
    if (mergedMeta.nonEmpty) e = e.updated("meta", mergedMeta)

    val currentConfig = asMap(current.getOrElse("config", Map.empty))
    val edgeConfig = asMap(e.getOrElse("config", Map.empty))
    if (current.contains("config") || e.contains("config")) {
      e -= "config"
      val cMeta = asMap(currentConfig.getOrElse("meta", Map.empty))
      val eMeta = asMap(edgeConfig.getOrElse("meta", Map.empty))
      val cfgProgenitor = cMeta.get("osmosis_progenitor")
      val mergedCfgMeta0 = cMeta ++ eMeta
      val mergedCfgMeta = cfgProgenitor.fold(mergedCfgMeta0)(p =>
        mergedCfgMeta0.updated("osmosis_progenitor", p))
      val mergedCfgTags = orderPreservingUnion(
        asSeq(currentConfig.getOrElse("tags", Nil)), asSeq(edgeConfig.getOrElse("tags", Nil)))
      var cfg = edgeConfig - "meta" - "tags"
      // remaining current config keys not present in edge config
      cfg = (currentConfig - "meta" - "tags") ++ cfg
      if (mergedCfgMeta.nonEmpty) cfg = cfg.updated("meta", mergedCfgMeta)
      if (mergedCfgTags.nonEmpty) cfg = cfg.updated("tags", mergedCfgTags)
      if (cfg.nonEmpty) e = e.updated("config", cfg)
    }
    current ++ e
  }

  /** The column knowledge graph (A18; core/inheritance.py:824-956):
    * init from local columns, fold generations farthest→closest with a
    * per-generation once-per-column guard, handle the self node only
    * for columns absent upstream, then apply progenitor overrides.
    * Returns (knowledge, progenitorAlternatives).
    */
  def buildColumnKnowledgeGraph(manifest: Manifest, node: NodeMeta,
      settings: EngineSettings): Map[String, KDoc] = {
    val memo = scala.collection.mutable.Map.empty[String, Map[String, KDoc]]
    buildGraph(manifest, node, settings, memo)
  }

  private def buildGraph(manifest: Manifest, node: NodeMeta, settings: EngineSettings,
      memo: scala.collection.mutable.Map[String, Map[String, KDoc]]): Map[String, KDoc] = {
    val tree = NodeFilters.ancestorTree(manifest, node)
    val variants = collectColumnVariants(node, settings)

    val graph = scala.collection.mutable.LinkedHashMap.empty[String, KDoc]
    node.columns.foreach { case (name, column) =>
      graph(name) = initializeColumnKnowledge(column, node)
    }

    val processedByGeneration = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.Set[String]]
    val progenitorAlternatives = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ListBuffer[String]]

    for (generation <- tree.keys.toSeq.sorted.reverse) {
      val processed = processedByGeneration.getOrElseUpdate(generation,
        scala.collection.mutable.Set.empty[String])
      for (ancestorUid <- tree(generation)) {
        if (ancestorUid == node.uniqueId) {
          // Self node: only columns that no upstream generation provided.
          for (name <- node.columns.keys
               if !processed.contains(name)
               if !processedByGeneration.values.exists(_.contains(name))) {
            if (LegacySettingsResolver.resolveBool("add-progenitor-to-meta",
                settings.addProgenitorToMeta, settings, Some(node), Some(name))) {
              var edge = applyEffectiveColumnMetadata(node.columns(name).toDoc)
              val meta = asMap(edge.getOrElse("meta", Map.empty))
                .updated("osmosis_progenitor", node.uniqueId)
              edge = edge.updated("meta", meta)
              edge = cleanGraphEdge(edge, generation, node, name, settings)
              processed += name
              graph(name) = mergeGraphNodeData(graph.getOrElse(name, Map.empty), edge)
            }
          }
        } else manifest.get(ancestorUid).foreach { ancestor =>
          for (name <- node.columns.keys if !processed.contains(name))
            findMatchingColumn(ancestor, variants(name)).foreach { incoming =>
              val alts = progenitorAlternatives.getOrElseUpdate(name,
                scala.collection.mutable.ListBuffer.empty)
              if (!alts.contains(ancestorUid)) alts += ancestorUid
              processed += name
              var edge = buildGraphEdge(node, name, incoming, ancestor, variants(name), settings)
              edge = cleanGraphEdge(edge, generation, node, name, settings)
              edge = filterSkippedMetaKeys(edge, node, name, settings)
              graph(name) = mergeGraphNodeData(graph.getOrElse(name, Map.empty), edge)
            }
        }
      }
    }

    applyProgenitorOverrides(manifest, node, graph, progenitorAlternatives.view
      .mapValues(_.distinct.toSeq).toMap, variants, settings, memo)
    graph.toMap
  }

  /** Column-level `column_default_progenitor` / model-level
    * `default_progenitor` overrides (core/inheritance.py:747-821):
    * re-inherit from the named ancestor's own (memoized) knowledge.
    */
  private def applyProgenitorOverrides(manifest: Manifest, node: NodeMeta,
      graph: scala.collection.mutable.LinkedHashMap[String, KDoc],
      alternatives: Map[String, Seq[String]],
      variants: ListMap[String, Seq[String]], settings: EngineSettings,
      memo: scala.collection.mutable.Map[String, Map[String, KDoc]]): Unit = {

    def overrideFor(name: String): Option[String] = {
      val colMeta = node.columns.get(name).map(c => c.meta: Map[String, Any]).getOrElse(Map.empty)
      val colCfgMeta = node.columns.get(name)
        .map(c => asMap(c.config.getOrElse("meta", Map.empty))).getOrElse(Map.empty)
      colMeta.get("column_default_progenitor").orElse(colCfgMeta.get("column_default_progenitor"))
        .orElse(node.meta.get("default_progenitor")).map(_.toString)
    }

    for ((name, doc) <- graph.toSeq) {
      val currentProgenitor = asMap(doc.getOrElse("meta", Map.empty)).get("osmosis_progenitor")
        .orElse(asMap(asMap(doc.getOrElse("config", Map.empty)).getOrElse("meta", Map.empty))
          .get("osmosis_progenitor")).map(_.toString)
      overrideFor(name).foreach { overrideUid =>
        val alts = alternatives.getOrElse(name, Nil)
        if (alts.contains(overrideUid) && !currentProgenitor.contains(overrideUid)) {
          manifest.get(overrideUid).foreach { progenitor =>
            val progenitorKnowledge = memo.getOrElseUpdate(overrideUid,
              buildGraph(manifest, progenitor, settings, memo))
            findMatchingColumn(progenitor, variants(name)).foreach { incoming =>
              progenitorKnowledge.get(incoming.name).foreach { inherited0 =>
                var inherited = inherited0
                // strip override-control metadata from the inherited doc
                val m = asMap(inherited.getOrElse("meta", Map.empty)) - "column_default_progenitor"
                inherited = if (m.isEmpty) inherited - "meta" else inherited.updated("meta", m)
                inherited = filterSkippedMetaKeys(inherited, node, name, settings)
                var rebuilt = initializeColumnKnowledge(node.columns(name), node)
                rebuilt = mergeGraphNodeData(rebuilt, inherited)
                // keep the local override marker so sync won't erase it
                node.columns.get(name).flatMap(c => c.meta.get("column_default_progenitor"))
                  .foreach { ov =>
                    val rm = asMap(rebuilt.getOrElse("meta", Map.empty))
                      .updated("column_default_progenitor", ov)
                    rebuilt = rebuilt.updated("meta", rm)
                  }
                graph(name) = rebuilt
              }
            }
          }
        }
      }
    }
  }

  /** Apply the knowledge graph to the node's columns (A19;
    * core/transforms.py:217-318): description unless skipped or a
    * local one exists (and no force-inherit), tags/meta unless
    * skipped, plus configured extra keys; progenitor rides along when
    * enabled.
    */
  def inheritUpstreamColumnKnowledge(manifest: Manifest, node: NodeMeta,
      settings: EngineSettings): NodeMeta = {
    val knowledge = buildColumnKnowledgeGraph(manifest, node, settings)
    val newColumns = node.columns.map { case (name, column) =>
      knowledge.get(name) match {
        case None => name -> column
        case Some(doc) =>
          var inheritable = Seq.empty[String]
          if (!LegacySettingsResolver.resolveBool("skip-inherit-descriptions",
              settings.skipInheritDescriptions, settings, Some(node), Some(name)))
            inheritable :+= "description"
          if (!LegacySettingsResolver.resolveBool("skip-add-tags",
              settings.skipAddTags, settings, Some(node), Some(name)))
            inheritable :+= "tags"
          if (!LegacySettingsResolver.resolveBool("skip-merge-meta",
              settings.skipMergeMeta, settings, Some(node), Some(name)))
            inheritable :+= "meta"
          for (extra <- LegacySettingsResolver.resolveSeq("add-inheritance-for-specified-keys",
              settings.addInheritanceForSpecifiedKeys, settings, Some(node), Some(name))
               if !inheritable.contains(extra))
            inheritable :+= extra

          if (LegacySettingsResolver.resolveBool("add-progenitor-to-meta",
              settings.addProgenitorToMeta, settings, Some(node), Some(name))) {
            val hasProgenitor = asMap(doc.getOrElse("meta", Map.empty))
              .contains("osmosis_progenitor") ||
              asMap(asMap(doc.getOrElse("config", Map.empty)).getOrElse("meta", Map.empty))
                .contains("osmosis_progenitor")
            if (hasProgenitor && !inheritable.contains("meta")) inheritable :+= "meta"
          }

          val localHasDescription = column.description.exists(_.nonEmpty)
          if (inheritable.contains("description") && localHasDescription &&
              !LegacySettingsResolver.resolveBool("force-inherit-descriptions",
                settings.forceInheritDescriptions, settings, Some(node), Some(name)))
            inheritable = inheritable.filterNot(_ == "description")

          val updated = doc.filter { case (k, v) => v != null && inheritable.contains(k) }
          name -> column.withDoc(updated)
      }
    }
    node.copy(columns = newColumns)
  }
}

/** Reference copy of the transform pipeline as it was before it ran
  * each wave of candidates concurrently: one node at a time, in
  * topological order. Only the names differ from that code.
  */
final case class LegacyPipeline(steps: Seq[(String, (Manifest, NodeMeta) => NodeMeta)]) {
  import Transforms.{PipelineResult, StepResult}

  private def changed(next: NodeMeta, current: NodeMeta): Boolean =
    next != current || !next.columns.keysIterator.sameElements(current.columns.keysIterator)

  def run(manifest: Manifest,
      filter: NodeFilters.NodeFilter = NodeFilters.NodeFilter()): PipelineResult = {
    var m = manifest
    val results = steps.map { case (name, op) =>
      val t0 = System.nanoTime()
      var mutated = 0
      val ordered = NodeFilters.topologicalSort(NodeFilters.candidates(m, filter))
      for (node <- ordered) {
        val current = m.get(node.uniqueId).get
        val next = op(m, current)
        if (changed(next, current)) { mutated += 1; m = m.updated(next) }
      }
      StepResult(name, (System.nanoTime() - t0) / 1e9, mutated)
    }
    PipelineResult(m, results)
  }
}
