package graft.core

import scala.collection.immutable.ListMap

/** Manifest → YAML projection (A27; core/sync_operations.py:21-313,
  * 844-892): one-way sync of a node's (possibly transformed) metadata
  * into its schema-YAML document — merging per-column fields into
  * existing entries, preserving unrendered `{{ doc(...) }}` jinja,
  * scrubbing empty values, failing closed on duplicate entries, and
  * grouping to one write per target file.
  */
object SyncOperations {

  final case class DuplicateEntryError(message: String) extends RuntimeException(message)

  private def asSeqMap(v: Any): Seq[Map[String, Any]] = v match {
    case s: Seq[_] => s.collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
    case _ => Nil
  }

  private def isJinjaDoc(v: Any): Boolean = v match {
    case s: String => s.contains("{{ doc(") || s.contains("{% docs ")
    case _ => false
  }

  private def anyMap(v: Any): Map[String, Any] = v match {
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
    case _ => Map.empty
  }

  /** Merge one column's node-side metadata into its YAML entry.
    *
    * Dialects (core/sync_operations.py:104-257): classic mode keeps
    * `meta`/`tags` at the top level, lifting any `config.meta`/
    * `config.tags` up and stripping the config wrapper; fusion mode
    * nests them INSIDE `config:` instead.
    */
  private[core] def mergeColumn(existing: Map[String, Any], column: ColumnMeta,
      fusionCompat: Boolean = false): Map[String, Any] = {
    var out = ListMap(existing.toSeq: _*)
    if (!out.contains("name")) out += "name" -> column.name
    // unrendered jinja descriptions in YAML win over rendered inherits
    column.description.filter(_.nonEmpty).foreach { d =>
      if (!isJinjaDoc(out.getOrElse("description", "")))
        out += "description" -> d
    }
    column.dataType.foreach(dt => out += "data_type" -> dt)
    val mergedMeta = anyMap(out.getOrElse("meta", null)) ++ column.meta
    val mergedTags = Inheritance.orderPreservingUnion(
      out.get("tags") match { case Some(t: Seq[_]) => t.map(_.toString); case _ => Nil },
      column.tags)
    val cfg = anyMap(out.getOrElse("config", null)) ++ column.config
    if (fusionCompat) {
      // fusion: meta/tags live inside config
      out -= "meta"; out -= "tags"
      var newCfg = cfg
      val cfgMeta = anyMap(cfg.getOrElse("meta", null)) ++ mergedMeta
      val cfgTags = Inheritance.orderPreservingUnion(
        cfg.get("tags") match { case Some(t: Seq[_]) => t.map(_.toString); case _ => Nil },
        mergedTags)
      if (cfgMeta.nonEmpty) newCfg += "meta" -> cfgMeta else newCfg -= "meta"
      if (cfgTags.nonEmpty) newCfg += "tags" -> cfgTags else newCfg -= "tags"
      if (newCfg.nonEmpty) out += "config" -> newCfg else out -= "config"
    } else {
      // classic: lift config.meta/config.tags to top level (existing
      // top-level values win), strip the config wrapper
      val liftedMeta = anyMap(cfg.getOrElse("meta", null)) ++ mergedMeta
      val liftedTags = Inheritance.orderPreservingUnion(mergedTags,
        cfg.get("tags") match { case Some(t: Seq[_]) => t.map(_.toString); case _ => Nil })
      if (liftedMeta.nonEmpty) out += "meta" -> liftedMeta
      if (liftedTags.nonEmpty) out += "tags" -> liftedTags
      val restCfg = cfg - "meta" - "tags"
      if (restCfg.nonEmpty) out += "config" -> restCfg else out -= "config"
    }
    // scrub empties (core/sync_operations.py empty-value scrubbing)
    out.filter {
      case (_, "") => false
      case (_, s: Seq[_]) if s.isEmpty => false
      case (_, m: Map[_, _]) if m.isEmpty => false
      case (_, null) => false
      case _ => true
    }
  }

  // ---- model version identity (core/inheritance.py:136-192) ----

  /** Normalize representation noise only: None/booleans/blank → no
    * identity; everything else is its trimmed string form.
    */
  private[core] def rawVersionValue(v: Any): Option[String] = v match {
    case null => None
    case _: Boolean => None
    case None => None
    case Some(x) => rawVersionValue(x)
    case other =>
      val t = other.toString.trim
      if (t.isEmpty) None else Some(t)
  }

  /** Canonical numeric form for cross-type (int vs float vs str)
    * equivalence: 2, 2.0, "2" all normalize to "2".
    */
  private[core] def normalizedVersionValue(v: Any): Option[String] =
    rawVersionValue(v).map { raw =>
      try {
        val d = BigDecimal(raw)
        if (d.isWhole) d.toBigInt.toString
        else d.underlying.stripTrailingZeros.toPlainString
      } catch { case _: NumberFormatException => raw }
    }

  /** Two version values identify the same version iff their raw forms
    * match, or (when not both are strings, and any string side is
    * already in canonical numeric form) their normalized numeric forms
    * match — so v: 2 == v: 2.0 but "v1" != "v1.0" and 2 != "02".
    */
  private[core] def versionValuesMatch(left: Any, right: Any): Boolean = {
    val lraw = rawVersionValue(left)
    if (lraw.isDefined && lraw == rawVersionValue(right)) return true
    def unwrap(v: Any): Any = v match { case Some(x) => unwrap(x); case x => x }
    val (l, r) = (unwrap(left), unwrap(right))
    val bothStrings = l.isInstanceOf[String] && r.isInstanceOf[String]
    val stringSidesCanonical = Seq(l, r).forall {
      case s: String => rawVersionValue(s).isDefined &&
        rawVersionValue(s) == normalizedVersionValue(s)
      case _ => true
    }
    if (bothStrings || !stringSidesCanonical) return false
    val ln = normalizedVersionValue(l)
    ln.isDefined && ln == normalizedVersionValue(r)
  }

  /** Merge node metadata (description + columns) into one YAML section
    * — a model entry, a version block, or a source table. Column
    * entries without a `name` (per-version `include`/`exclude`
    * selectors) are preserved ahead of the synced columns when the
    * section is a version block (core/sync_operations.py:51-65,313).
    */
  private def syncSection(section: ListMap[String, Any], node: NodeMeta,
      fusion: Boolean): ListMap[String, Any] = {
    var entry = section
    if (node.description.nonEmpty && !isJinjaDoc(entry.getOrElse("description", "")))
      entry += "description" -> node.description
    val currentCols = asSeqMap(entry.getOrElse("columns", Nil))
    val isVersionBlock = entry.contains("v")
    val selectors = if (isVersionBlock)
      currentCols.filter(c => !c.get("name").exists(_.isInstanceOf[String]) &&
        (c.contains("include") || c.contains("exclude")))
    else Nil
    val existingCols = currentCols
      .filter(_.get("name").exists(_.isInstanceOf[String]))
      .map(c => c("name").toString -> c).toMap
    val columns = selectors ++ node.columns.values.toSeq.map(c =>
      mergeColumn(existingCols.getOrElse(c.name, Map.empty), c, fusion))
    if (columns.nonEmpty) entry += "columns" -> columns
    else if (currentCols.isEmpty) entry -= "columns"
    entry
  }

  /** Sync a versioned model: the column/description payload lands in
    * the matching `versions[]` block (created if absent), never the
    * parent model entry, and `latest_version` tracks the manifest
    * (core/sync_operations.py:569-655). Duplicate version entries that
    * identify the same version fail closed.
    */
  private def syncVersioned(entry: ListMap[String, Any], node: NodeMeta,
      fusion: Boolean): ListMap[String, Any] = {
    val version = node.version.get
    val versions = asSeqMap(entry.getOrElse("versions", Nil))
    // fail closed on duplicates (core/sync_operations.py:568-605)
    val identified = versions.zipWithIndex
      .filter { case (v, _) => rawVersionValue(v.getOrElse("v", null)).isDefined }
    for {
      ((va, ia), j) <- identified.zipWithIndex
      (vb, ib) <- identified.drop(j + 1)
      if versionValuesMatch(va("v"), vb("v"))
    } throw DuplicateEntryError(
      s"duplicate versions[] entries for model '${node.name}' at indexes $ia and $ib " +
        s"identify the same version — refusing to sync")

    val matched = versions.exists(v => versionValuesMatch(v.getOrElse("v", null), version))
    val newVersions =
      if (matched) versions.map { v =>
        if (versionValuesMatch(v.getOrElse("v", null), version))
          syncSection(ListMap(v.toSeq: _*), node, fusion)
        else v
      }
      else versions :+ syncSection(ListMap("v" -> version, "columns" -> Nil), node, fusion)
    // version blocks carry OVERRIDES only (dbt layout convention):
    // a value equal to the parent entry's is inherited on load, so
    // writing it back would oscillate — the loader merges parent ++
    // version, sync would re-materialize the merge into the block,
    // and the file would change on every second run forever
    val prunedVersions = newVersions.map { v =>
      ListMap(v.toSeq.filter {
        case ("v", _) => true
        case (k, value) => !entry.get(k).contains(value)
      }: _*)
    }

    var out = entry.updated("versions", prunedVersions)
    // latest_version follows the manifest rather than stale YAML
    node.latestVersion match {
      case Some(lv) => out = out.updated("latest_version", lv)
      case None if !out.contains("latest_version") =>
        out = out.updated("latest_version", version)
      case None => ()
    }
    ListMap(out.toSeq: _*)
  }

  /** Project a node into the right section of a YAML doc. Columns are
    * written in node order; existing per-column keys not owned by the
    * sync are preserved. Versioned models sync into their
    * `versions[]` block ([[syncVersioned]]).
    */
  /** YAML entry name for a node: a versioned model node is named
    * `<base>_v<version>` in the manifest but lives under ONE entry
    * per base model in YAML (the `versions[]` block carries the
    * per-version payload). Syncing under the manifest name would
    * create a phantom `<base>_v2` entry the loader can never match
    * back to a node — breaking organize/refactor idempotency (the
    * second run re-plans the same move forever).
    */
  /** Deterministic within-file sync order: base/unversioned entries
    * first, so version blocks prune their overrides against the
    * freshly synced parent payload rather than a stale one.
    */
  private[core] def syncOrder(nodes: Seq[NodeMeta]): Seq[NodeMeta] =
    nodes.sortBy(n => (entryName(n), n.version.isDefined,
      n.version.map(v => graft.compile.DbtCompiler.normalizeVersion(v))
        .getOrElse("")))

  private[core] def entryName(node: NodeMeta): String = node.version match {
    case Some(v) if node.resourceType == "model" =>
      val suffix = s"_v${graft.compile.DbtCompiler.normalizeVersion(v)}"
      if (node.name.endsWith(suffix)) node.name.dropRight(suffix.length)
      else node.name
    case _ => node.name
  }

  def syncNodeToDoc(doc: YamlIO.YamlDoc, node: NodeMeta,
      settings: EngineSettings = EngineSettings()): YamlIO.YamlDoc = {
    val section = node.resourceType match {
      case "model" => "models"
      case "seed" => "seeds"
      case "source" => "sources"
      case other => throw new IllegalArgumentException(s"cannot sync $other")
    }
    if (node.resourceType == "source") return syncSource(doc, node, settings.fusionCompat)

    val name = entryName(node)
    val entries = asSeqMap(doc.managed.getOrElse(section, Nil))
    if (entries.count(_.get("name").contains(name)) > 1)
      throw DuplicateEntryError(
        s"duplicate '$section' entries for $name — refusing to sync")

    val existing = entries.find(_.get("name").contains(name))
      .getOrElse(ListMap("name" -> name))
    val entry =
      if (node.resourceType == "model" && node.version.isDefined)
        syncVersioned(ListMap(existing.toSeq: _*), node, settings.fusionCompat)
      else syncSection(ListMap(existing.toSeq: _*), node, settings.fusionCompat)

    val newEntries =
      if (entries.exists(_.get("name").contains(name)))
        entries.map(e => if (e.get("name").contains(name)) entry else e)
      else entries :+ entry
    val managed = doc.managed
      .updated("version", doc.managed.getOrElse("version", 2))
      .updated(section, newEntries)
    doc.copy(managed = ListMap(managed.toSeq: _*))
  }

  /** Sources nest one level deeper: sources[].tables[]
    * (core/sync_operations.py:397-531).
    */
  private def syncSource(doc: YamlIO.YamlDoc, node: NodeMeta,
      fusion: Boolean): YamlIO.YamlDoc = {
    val srcName = node.fqn.lift(1).getOrElse(node.schema)
    val sources = asSeqMap(doc.managed.getOrElse("sources", Nil))
    val src = sources.find(_.get("name").contains(srcName))
      .getOrElse(ListMap[String, Any]("name" -> srcName))
    val tables = asSeqMap(src.getOrElse("tables", Nil))
    if (tables.count(_.get("name").contains(node.name)) > 1)
      throw DuplicateEntryError(
        s"duplicate source tables for ${node.name} — refusing to sync")
    val existing = tables.find(_.get("name").contains(node.name))
      .getOrElse(ListMap[String, Any]("name" -> node.name))
    var tbl = ListMap(existing.toSeq: _*)
    if (node.description.nonEmpty && !isJinjaDoc(tbl.getOrElse("description", "")))
      tbl += "description" -> node.description
    val existingCols = asSeqMap(tbl.getOrElse("columns", Nil))
      .map(c => c.getOrElse("name", "").toString -> c).toMap
    val columns = node.columns.values.toSeq.map(c =>
      mergeColumn(existingCols.getOrElse(c.name, Map.empty), c, fusion))
    if (columns.nonEmpty) tbl += "columns" -> columns

    val newTables =
      if (tables.exists(_.get("name").contains(node.name)))
        tables.map(t => if (t.get("name").contains(node.name)) tbl else t)
      else tables :+ tbl
    val newSrc = src.updated("tables", newTables)
    val newSources =
      if (sources.exists(_.get("name").contains(srcName)))
        sources.map(s => if (s.get("name").contains(srcName)) newSrc else s)
      else sources :+ newSrc
    doc.copy(managed = ListMap((doc.managed
      .updated("version", doc.managed.getOrElse("version", 2))
      .updated("sources", newSources)).toSeq: _*))
  }

  /** Sync many nodes grouped one-write-per-file
    * (core/sync_operations.py:823-841): resolve each node's target
    * YAML, fold nodes into per-file docs, buffer them. Files are
    * synced concurrently on [[Parallel]]'s pool; the paths come back
    * sorted.
    */
  def syncNodes(projectRoot: java.nio.file.Path, nodes: Seq[NodeMeta],
      settings: EngineSettings): Seq[java.nio.file.Path] = {
    val byFile = nodes.groupBy(n =>
      PathManagement.targetYamlPath(projectRoot, n, settings))
    Parallel.map(byFile.toSeq.sortBy(_._1.toString)) { case (path, fileNodes) =>
      val orig = YamlIO.read(path)
      var doc = orig
      syncOrder(fileNodes).foreach(n => doc = syncNodeToDoc(doc, n, settings))
      // buffer only real changes: an unchanged file must not show up
      // as written/mutated (reference `--check` exits on mutation, so
      // a no-op sync marking everything dirty would always fail it)
      if (doc != orig) YamlIO.buffer(path, doc)
      path
    }
  }
}
