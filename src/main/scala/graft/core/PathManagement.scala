package graft.core

import java.nio.file.{Path, Paths}

/** YAML path templating + resolution (A9;
  * core/path_management.py:124-260): resolve the target schema-YAML
  * file for a node from the `+dbt-osmosis:` config / vars routing /
  * global default, with `{model}/{parent}/{schema}/{node.*}` format
  * variables and path-traversal guards.
  */
object PathManagement {

  final case class PathResolutionError(message: String) extends RuntimeException(message)

  /** Render `{var}` / `{node.attr}` template placeholders. */
  private[core] def renderTemplate(tpl: String, node: NodeMeta, parent: String): String = {
    val nodeAttr = "\\{node\\.([a-zA-Z_]+)\\}".r
    val withNode = nodeAttr.replaceAllIn(tpl, m => m.group(1) match {
      case "name" => node.name
      case "schema" => node.schema
      case "database" => node.database
      case "resource_type" => node.resourceType
      case "package_name" => node.packageName
      case other => throw PathResolutionError(
        s"Unable to render YAML path template for '${node.uniqueId}': " +
          s"missing template attribute 'node.$other'")
    })
    "\\{([a-zA-Z_]+)\\}".r.replaceAllIn(withNode, m => m.group(1) match {
      // {model} is the YAML entry name: versioned nodes render their
      // BASE model name so every version targets the same file (one
      // entry, one versions[] block — dbt's layout contract; separate
      // per-version files would declare the model twice)
      case "model" => SyncOperations.entryName(node)
      case "parent" => parent
      case "schema" => node.schema
      case other => throw PathResolutionError(
        s"Unable to render YAML path template for '${node.uniqueId}': " +
          s"missing template key '$other'")
    })
  }

  /** The `vars: dbt-osmosis:` section (kebab key preferred over the
    * underscore variant, like the reference's dict.get chain).
    */
  private def osmosisVars(settings: EngineSettings): Map[String, Any] =
    settings.vars.get("dbt-osmosis").orElse(settings.vars.get("dbt_osmosis")) match {
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty
    }

  /** Fusion-compatible per-folder routing
    * (core/path_management.py:56-121): dbt-fusion rejects unknown
    * `+`-prefixed config keys but accepts vars, so the template can
    * live under `vars: dbt-osmosis: models: {<folder[.folder]>: tpl}`
    * (and `seeds:` as a string for all seeds or a per-folder dict).
    * FQN folders — fqn minus the package head and the node-name tail —
    * are matched MOST SPECIFIC FIRST ("staging.oem_raw" before
    * "staging"); a node at the project root has no folders and never
    * matches.
    */
  private[core] def resolveVarsRouting(settings: EngineSettings,
      node: NodeMeta): Option[String] = {
    val ov = osmosisVars(settings)
    val routing: Map[String, Any] =
      if (node.resourceType == "seed") ov.get("seeds") match {
        case Some(s: String) => return Some(s)
        case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
        case _ => return None
      }
      else ov.get("models") match {
        case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
        case _ => return None
      }
    val folders =
      if (node.fqn.length > 2) node.fqn.slice(1, node.fqn.length - 1) else Nil
    (folders.length to 1 by -1).iterator
      .map(d => folders.take(d).mkString("."))
      .map(routing.get)
      .collectFirst { case Some(s: String) => s }
  }

  /** Source-table YAML location from `vars: dbt-osmosis: sources:`
    * (core/path_management.py:131-142): the entry for the node's
    * source name is either the path string itself or a
    * `{path: ...}` definition map.
    */
  private def sourceDefinitionPath(settings: EngineSettings,
      node: NodeMeta): Option[String] = {
    val sourceName = node.fqn.lift(1).getOrElse(node.schema)
    osmosisVars(settings).get("sources") match {
      case Some(m: Map[_, _]) =>
        m.asInstanceOf[Map[String, Any]].get(sourceName) match {
          case Some(s: String) => Some(s)
          case Some(d: Map[_, _]) =>
            d.asInstanceOf[Map[String, Any]].get("path").collect { case s: String => s }
          case _ => None
        }
      case _ => None
    }
  }

  /** Template resolution order (core/path_management.py:124-177):
    * source definitions (source nodes ONLY resolve there) → node
    * config/meta (`dbt-osmosis` key via the settings chain) →
    * vars-based per-folder routing → global
    * `dbt_osmosis_default_path` var.
    */
  def pathTemplate(node: NodeMeta, settings: EngineSettings): Option[String] =
    if (node.resourceType == "source") sourceDefinitionPath(settings, node)
    else SettingsResolver.resolveString(Setting.DbtOsmosis, None, settings, Some(node), None)
      .orElse(SettingsResolver.resolveString(Setting.DbtOsmosisPath, None, settings,
        Some(node), None))
      .orElse(resolveVarsRouting(settings, node))
      .orElse(settings.vars.get("dbt_osmosis_default_path").collect { case s: String => s })

  /** Current YAML location: patch path for models/seeds, own path for
    * sources (core/path_management.py:181-200).
    */
  def currentYamlPath(projectRoot: Path, node: NodeMeta): Option[Path] =
    node.resourceType match {
      case "model" | "seed" =>
        node.patchPath.map(p => projectRoot.resolve(p.split("://").last))
      case "source" => Some(projectRoot.resolve(node.path))
      case _ => None
    }

  /** Target YAML location (core/path_management.py:201-260): rendered
    * template, rooted at the model dir for absolute templates /
    * sources, at the node's folder otherwise; `.yml` appended;
    * resolved path MUST stay inside the project root.
    */
  def targetYamlPath(projectRoot: Path, node: NodeMeta, settings: EngineSettings,
      modelPaths: Seq[String] = Seq("models")): Path = {
    val nodePath = projectRoot.resolve(if (node.path.nonEmpty) node.path else "models/_")
    val parent = Option(nodePath.getParent).map(_.getFileName.toString).getOrElse("")

    pathTemplate(node, settings) match {
      case None => projectRoot.resolve(node.path)
      case Some(tpl) =>
        var rendered = renderTemplate(tpl, node, parent)
        val base: Path =
          if (node.resourceType == "source") projectRoot.resolve(modelPaths.head)
          else if (rendered.startsWith("/")) {
            rendered = rendered.stripPrefix("/") // first slash only (traversal guard)
            projectRoot.resolve(modelPaths.head)
          } else nodePath.getParent
        if (!rendered.endsWith(".yml") && !rendered.endsWith(".yaml")) rendered += ".yml"
        val target = base.resolve(rendered).normalize()
        if (!target.startsWith(projectRoot.normalize()))
          throw PathResolutionError(
            s"Security violation: target YAML path '$target' is outside project root '$projectRoot'")
        target
    }
  }
}
