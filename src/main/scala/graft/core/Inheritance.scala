package graft.core

import scala.collection.immutable.{HashMap, ListMap}

/** Column-knowledge propagation — the reference's flagship algorithm
  * (A12–A18; core/inheritance.py:824-956 and helpers). Documentation
  * "osmoses" down the DAG: each node folds its ancestors' column
  * metadata farthest→closest into a per-column knowledge document,
  * then applies it subject to per-column gating.
  *
  * Everything here is pure driver-side logic over the (small)
  * manifest; Plane-B/Spark is untouched.
  */
object Inheritance {

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
    variants.iterator.flatMap(ancestor.columnIndex.get).nextOption()

  /** The per-(node, column) settings inheritance reads, each resolved
    * through the settings chain at most once per node and only when
    * first read.
    */
  private final class ColumnSettings(node: NodeMeta, name: String, settings: EngineSettings) {
    private def bool(s: Setting, fallback: Boolean): Boolean =
      SettingsResolver.resolveBool(s, fallback, settings, Some(node), Some(name))
    private def seq(s: Setting, fallback: Seq[String]): Seq[String] =
      SettingsResolver.resolveSeq(s, fallback, settings, Some(node), Some(name))

    lazy val addProgenitorToMeta: Boolean =
      bool(Setting.AddProgenitorToMeta, settings.addProgenitorToMeta)
    lazy val useUnrenderedDescriptions: Boolean =
      bool(Setting.UseUnrenderedDescriptions, settings.useUnrenderedDescriptions)
    lazy val addInheritanceForSpecifiedKeys: Seq[String] =
      seq(Setting.AddInheritanceForSpecifiedKeys, settings.addInheritanceForSpecifiedKeys)
    lazy val forceInheritDescriptions: Boolean =
      bool(Setting.ForceInheritDescriptions, settings.forceInheritDescriptions)
    lazy val skipInheritanceForMetaKeys: Set[String] =
      seq(Setting.SkipInheritanceForMetaKeys, settings.skipInheritanceForMetaKeys).toSet
    lazy val skipInheritDescriptions: Boolean =
      bool(Setting.SkipInheritDescriptions, settings.skipInheritDescriptions)
    lazy val skipAddTags: Boolean = bool(Setting.SkipAddTags, settings.skipAddTags)
    lazy val skipMergeMeta: Boolean = bool(Setting.SkipMergeMeta, settings.skipMergeMeta)
  }

  private def columnSettingsOf(node: NodeMeta,
      settings: EngineSettings): Map[String, ColumnSettings] =
    node.columns.keysIterator.map(name => name -> new ColumnSettings(node, name, settings)).toMap

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
  private def buildGraphEdge(incoming: ColumnMeta, ancestor: NodeMeta,
      variants: Seq[String], cs: ColumnSettings): KDoc = {
    var edge = applyEffectiveColumnMetadata(incoming.toDoc)

    if (cs.addProgenitorToMeta) {
      val meta = asMap(edge.getOrElse("meta", Map.empty))
        .updated("osmosis_progenitor", ancestor.uniqueId)
      edge = edge.updated("meta", meta)
    }

    def unrendered(key: String): Option[Any] =
      variants.iterator.flatMap(v => ancestor.unrenderedColumns.get(v))
        .flatMap(_.get(key)).nextOption()

    if (cs.useUnrenderedDescriptions)
      unrendered("description").collect { case s: String if s.nonEmpty =>
        edge = edge.updated("description", s)
      }

    for (key <- cs.addInheritanceForSpecifiedKeys)
      unrendered(key) match {
        case Some(v) => edge = edge.updated(key, v)
        case None => // keep the rendered value already present, if any
      }
    edge
  }

  /** Drop placeholders/empties from an edge (core/inheritance.py:541-589). */
  private def cleanGraphEdge(edge: KDoc, generation: Int, cs: ColumnSettings,
      settings: EngineSettings): KDoc = {
    var out = edge
    val desc = out.get("description")
    val isPlaceholder = desc.exists {
      case s: String => settings.placeholders.contains(s)
      case _ => false
    }
    val forceGen0 = generation == 0 && cs.forceInheritDescriptions
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
  private def filterSkippedMetaKeys(edge: KDoc, cs: ColumnSettings): KDoc = {
    val skipped = cs.skipInheritanceForMetaKeys
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
      settings: EngineSettings): Map[String, KDoc] =
    buildGraph(manifest, node, settings, columnSettingsOf(node, settings),
      scala.collection.mutable.Map.empty)

  private def buildGraph(manifest: Manifest, node: NodeMeta, settings: EngineSettings,
      columnSettings: Map[String, ColumnSettings],
      memo: scala.collection.mutable.Map[String, Map[String, KDoc]]): Map[String, KDoc] = {
    val tree = NodeFilters.ancestorTree(manifest, node)
    val variants = HashMap.from(collectColumnVariants(node, settings))

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
            val cs = columnSettings(name)
            if (cs.addProgenitorToMeta) {
              var edge = applyEffectiveColumnMetadata(node.columns(name).toDoc)
              val meta = asMap(edge.getOrElse("meta", Map.empty))
                .updated("osmosis_progenitor", node.uniqueId)
              edge = edge.updated("meta", meta)
              edge = cleanGraphEdge(edge, generation, cs, settings)
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
              val cs = columnSettings(name)
              var edge = buildGraphEdge(incoming, ancestor, variants(name), cs)
              edge = cleanGraphEdge(edge, generation, cs, settings)
              edge = filterSkippedMetaKeys(edge, cs)
              graph(name) = mergeGraphNodeData(graph.getOrElse(name, Map.empty), edge)
            }
        }
      }
    }

    applyProgenitorOverrides(manifest, node, graph, progenitorAlternatives.view
      .mapValues(_.distinct.toSeq).toMap, variants, columnSettings, settings, memo)
    graph.toMap
  }

  /** Column-level `column_default_progenitor` / model-level
    * `default_progenitor` overrides (core/inheritance.py:747-821):
    * re-inherit from the named ancestor's own (memoized) knowledge.
    */
  private def applyProgenitorOverrides(manifest: Manifest, node: NodeMeta,
      graph: scala.collection.mutable.LinkedHashMap[String, KDoc],
      alternatives: Map[String, Seq[String]],
      variants: Map[String, Seq[String]], columnSettings: Map[String, ColumnSettings],
      settings: EngineSettings, memo: scala.collection.mutable.Map[String, Map[String, KDoc]]): Unit = {

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
              buildGraph(manifest, progenitor, settings,
                columnSettingsOf(progenitor, settings), memo))
            findMatchingColumn(progenitor, variants(name)).foreach { incoming =>
              progenitorKnowledge.get(incoming.name).foreach { inherited0 =>
                var inherited = inherited0
                // strip override-control metadata from the inherited doc
                val m = asMap(inherited.getOrElse("meta", Map.empty)) - "column_default_progenitor"
                inherited = if (m.isEmpty) inherited - "meta" else inherited.updated("meta", m)
                inherited = filterSkippedMetaKeys(inherited, columnSettings(name))
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
    val columnSettings = columnSettingsOf(node, settings)
    val knowledge = buildGraph(manifest, node, settings, columnSettings,
      scala.collection.mutable.Map.empty)
    val newColumns = node.columns.map { case (name, column) =>
      knowledge.get(name) match {
        case None => name -> column
        case Some(doc) =>
          val cs = columnSettings(name)
          var inheritable = Seq.empty[String]
          if (!cs.skipInheritDescriptions) inheritable :+= "description"
          if (!cs.skipAddTags) inheritable :+= "tags"
          if (!cs.skipMergeMeta) inheritable :+= "meta"
          for (extra <- cs.addInheritanceForSpecifiedKeys if !inheritable.contains(extra))
            inheritable :+= extra

          if (cs.addProgenitorToMeta) {
            val hasProgenitor = asMap(doc.getOrElse("meta", Map.empty))
              .contains("osmosis_progenitor") ||
              asMap(asMap(doc.getOrElse("config", Map.empty)).getOrElse("meta", Map.empty))
                .contains("osmosis_progenitor")
            if (hasProgenitor && !inheritable.contains("meta")) inheritable :+= "meta"
          }

          val localHasDescription = column.description.exists(_.nonEmpty)
          if (inheritable.contains("description") && localHasDescription &&
              !cs.forceInheritDescriptions)
            inheritable = inheritable.filterNot(_ == "description")

          val updated = doc.filter { case (k, v) => v != null && inheritable.contains(k) }
          name -> column.withDoc(updated)
      }
    }
    node.copy(columns = newColumns)
  }
}
