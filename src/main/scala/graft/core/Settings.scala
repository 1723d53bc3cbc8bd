package graft.core

/** Engine settings + the per-column/node resolution chain (A8).
  *
  * Reference precedence (core/introspection.py:826-1007), highest
  * first:
  *   1. column meta (prefixed → direct → options)
  *   2. node meta (prefixed → direct → options)
  *   3. node config extras (prefixed → options; NO direct keys)
  *   4. node config.meta (prefixed → direct → options)
  *   5. node unrendered_config (prefixed → options; NO direct keys)
  *   6. explicit engine settings (the typed fallback the caller passes)
  *   7. supplementary `dbt-osmosis.yml` at the project root
  *   8. project vars (`dbt-osmosis:`/`dbt_osmosis:` section → top-level)
  *   9. fallback default.
  * Keys are accepted in kebab-case, snake_case, `dbt-osmosis-`
  * prefixed, and inside a `dbt-osmosis-options` object.
  */
final case class EngineSettings(
    addProgenitorToMeta: Boolean = false,
    useUnrenderedDescriptions: Boolean = false,
    skipInheritDescriptions: Boolean = false,
    skipAddTags: Boolean = false,
    skipMergeMeta: Boolean = false,
    forceInheritDescriptions: Boolean = false,
    addInheritanceForSpecifiedKeys: Seq[String] = Nil,
    skipInheritanceForMetaKeys: Seq[String] = Nil,
    numericPrecisionAndScale: Boolean = false,
    stringLength: Boolean = false,
    outputToLower: Boolean = false,
    outputToUpper: Boolean = false,
    sortBy: String = "database",
    prefix: Option[String] = None,
    /** Adapter-style case folding: "spark" preserves case. */
    credentialsType: String = "spark",
    /** Fusion-compatible YAML dialect: per-column meta/tags nest
      * inside `config:` instead of the classic top-level keys.
      * Auto-detected from an existing Fusion manifest (A3,
      * core/config.py:95-145) or set explicitly.
      */
    fusionCompat: Boolean = false,
    /** Project vars (dbt_project.yml `vars:` analog; may carry a
      * `dbt-osmosis:`/`dbt_osmosis:` section).
      */
    vars: Map[String, Any] = Map.empty,
    /** Contents of the supplementary `dbt-osmosis.yml` file at the
      * project root (core/introspection.py:670-772) — resolved AFTER
      * node-level sources but BEFORE project vars.
      */
    supplementary: Map[String, Any] = Map.empty,
    placeholders: Set[String] = EngineSettings.DefaultPlaceholders)

object EngineSettings {
  /** Reference placeholder descriptions (core/settings.py:133-139). */
  val DefaultPlaceholders: Set[String] = Set(
    "",
    "Pending further documentation",
    "No description for this column",
    "Not documented",
    "Undefined")

  /** Load the supplementary `dbt-osmosis.yml` from a project root
    * (empty map when absent; malformed YAML raises — fail loud, the
    * reference raises ConfigurationError too).
    */
  def loadSupplementary(projectRoot: java.nio.file.Path): Map[String, Any] = {
    val p = projectRoot.resolve("dbt-osmosis.yml")
    if (!java.nio.file.Files.isRegularFile(p)) Map.empty
    else YamlIO.read(p).full
  }

  /** Settings with the supplementary file merged in from disk. */
  def withSupplementary(settings: EngineSettings,
      projectRoot: java.nio.file.Path): EngineSettings =
    settings.copy(supplementary = loadSupplementary(projectRoot))
}

/** One setting name with its accepted key spellings built once:
  * kebab-case, snake_case, the two `dbt-osmosis` prefixed forms, and,
  * for the engine-settings fields addressable by name, the typed
  * accessor of level 6. The names graft reads are constants on the
  * companion; [[Setting.named]] maps any other name onto the same
  * shape.
  */
final class Setting private (val kebab: String, typed: Option[EngineSettings => Any]) {
  val snake: String = kebab.replace('-', '_')
  private[core] val prefixedKebab: String = s"dbt-osmosis-$kebab"
  private[core] val prefixedSnake: String = s"dbt_osmosis_$snake"

  /** Level 6: a typed value counts as EXPLICIT (and therefore beats
    * the supplementary file and project vars, reference
    * core/introspection.py:263-292) only when it differs from the
    * dataclass default, exactly like the reference's non-default
    * check.
    */
  private[core] val explicitTyped: EngineSettings => Option[Any] = typed match {
    case None => _ => None
    case Some(acc) =>
      val default = acc(EngineSettings())
      settings => Some(acc(settings)).filter(_ != default)
  }
}

object Setting {
  private def typed(kebab: String, acc: EngineSettings => Any) = new Setting(kebab, Some(acc))
  private def untyped(kebab: String) = new Setting(kebab, None)

  val AddProgenitorToMeta: Setting = typed("add-progenitor-to-meta", _.addProgenitorToMeta)
  val UseUnrenderedDescriptions: Setting =
    typed("use-unrendered-descriptions", _.useUnrenderedDescriptions)
  val SkipInheritDescriptions: Setting =
    typed("skip-inherit-descriptions", _.skipInheritDescriptions)
  val SkipAddTags: Setting = typed("skip-add-tags", _.skipAddTags)
  val SkipMergeMeta: Setting = typed("skip-merge-meta", _.skipMergeMeta)
  val ForceInheritDescriptions: Setting =
    typed("force-inherit-descriptions", _.forceInheritDescriptions)
  val AddInheritanceForSpecifiedKeys: Setting =
    typed("add-inheritance-for-specified-keys", _.addInheritanceForSpecifiedKeys)
  val SkipInheritanceForMetaKeys: Setting =
    typed("skip-inheritance-for-meta-keys", _.skipInheritanceForMetaKeys)
  val NumericPrecisionAndScale: Setting =
    typed("numeric-precision-and-scale", _.numericPrecisionAndScale)
  val StringLength: Setting = typed("string-length", _.stringLength)
  val OutputToLower: Setting = typed("output-to-lower", _.outputToLower)
  val OutputToUpper: Setting = typed("output-to-upper", _.outputToUpper)
  val SortBy: Setting = typed("sort-by", _.sortBy)
  val Prefix: Setting = typed("prefix", _.prefix)
  val FusionCompat: Setting = typed("fusion-compat", _.fusionCompat)

  val SkipAddColumns: Setting = untyped("skip-add-columns")
  val SkipAddDataTypes: Setting = untyped("skip-add-data-types")
  val DbtOsmosis: Setting = untyped("dbt-osmosis")
  val DbtOsmosisPath: Setting = untyped("dbt-osmosis-path")

  private val Known: Map[String, Setting] = Seq(
    AddProgenitorToMeta, UseUnrenderedDescriptions, SkipInheritDescriptions,
    SkipAddTags, SkipMergeMeta, ForceInheritDescriptions,
    AddInheritanceForSpecifiedKeys, SkipInheritanceForMetaKeys,
    NumericPrecisionAndScale, StringLength, OutputToLower, OutputToUpper,
    SortBy, Prefix, FusionCompat, SkipAddColumns, SkipAddDataTypes,
    DbtOsmosis, DbtOsmosisPath).map(s => s.kebab -> s).toMap

  /** The setting for a name in any spelling (`_` and `-` are
    * interchangeable): one of the constants, or a fresh untyped one.
    */
  def named(name: String): Setting = {
    val kebab = name.replace('_', '-')
    Known.getOrElse(kebab, untyped(kebab))
  }
}

object SettingsResolver {

  private val OptionsKeys = Seq("dbt-osmosis-options", "dbt_osmosis_options")
  private val VarsSectionKeys = Seq("dbt-osmosis", "dbt_osmosis")

  private def directLookup(m: Map[String, Any], s: Setting): Option[Any] =
    m.get(s.kebab).orElse(m.get(s.snake))

  private def optionsLookup(m: Map[String, Any], s: Setting): Option[Any] =
    OptionsKeys.iterator.flatMap { key =>
      m.get(key) match {
        case Some(opts: Map[_, _]) => directLookup(opts.asInstanceOf[Map[String, Any]], s)
        case _ => None
      }
    }.nextOption()

  /** One source in the chain: prefixed → (direct, when allowed) →
    * options object (core/introspection.py:891-916 `dict_value`).
    */
  private def lookup(m: Map[String, Any], s: Setting, directKeys: Boolean = true): Option[Any] =
    if (m.isEmpty) None
    else m.get(s.prefixedKebab)
      .orElse(m.get(s.prefixedSnake))
      .orElse(if (directKeys) directLookup(m, s) else None)
      .orElse(optionsLookup(m, s))

  /** Project-vars source (core/introspection.py:552-663): a
    * `dbt-osmosis:`/`dbt_osmosis:` section first (direct → options
    * within it), then prefixed/direct top-level vars.
    */
  private def varsLookup(vars: Map[String, Any], s: Setting): Option[Any] =
    if (vars.isEmpty) None
    else VarsSectionKeys.iterator.flatMap { key =>
      vars.get(key) match {
        case Some(sec: Map[_, _]) =>
          val sm = sec.asInstanceOf[Map[String, Any]]
          directLookup(sm, s).orElse(optionsLookup(sm, s))
        case _ => None
      }
    }.nextOption().orElse(lookup(vars, s))

  private def asMap(v: Any): Map[String, Any] = v match {
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
    case _ => Map.empty
  }

  /** Resolve a setting for (node, column) through the full precedence
    * chain (see [[EngineSettings]] scaladoc): node-level sources
    * (levels 1-5), then a NON-DEFAULT typed engine setting (level 6 —
    * explicit configuration beats the project files), then the
    * supplementary file and project vars (7-8). Callers' fallbacks in
    * `resolveBool`/`Seq`/`String` are level 9.
    */
  def resolve(setting: Setting, settings: EngineSettings,
      node: Option[NodeMeta], column: Option[String]): Option[Any] = {
    // column config.meta merges OVER column meta (dbt >= 1.10 shape;
    // reference _get_effective_column_meta, introspection.py:316-323)
    val columnMeta: Map[String, Any] = (for {
      n <- node; c <- column; cm <- n.columns.get(c)
    } yield {
      val configMeta = asMap(cm.config.getOrElse("meta", null))
      if (configMeta.isEmpty) cm.meta: Map[String, Any] else cm.meta ++ configMeta
    }).getOrElse(Map.empty)
    val fromNode = node.flatMap { n =>
      lookup(columnMeta, setting)
        .orElse(lookup(n.meta, setting))
        .orElse(lookup(n.config, setting, directKeys = false))
        .orElse(lookup(asMap(n.config.getOrElse("meta", null)), setting))
        .orElse(lookup(n.unrenderedConfig, setting, directKeys = false))
    }
    fromNode
      .orElse(setting.explicitTyped(settings))
      .orElse(lookup(settings.supplementary, setting))
      .orElse(varsLookup(settings.vars, setting))
  }

  def resolve(name: String, settings: EngineSettings,
      node: Option[NodeMeta] = None, column: Option[String] = None): Option[Any] =
    resolve(Setting.named(name), settings, node, column)

  def resolveBool(setting: Setting, fallback: Boolean, settings: EngineSettings,
      node: Option[NodeMeta], column: Option[String]): Boolean =
    resolve(setting, settings, node, column) match {
      case Some(b: Boolean) => b
      case Some(s: String) => s.equalsIgnoreCase("true")
      case _ => fallback
    }

  def resolveSeq(setting: Setting, fallback: Seq[String], settings: EngineSettings,
      node: Option[NodeMeta], column: Option[String]): Seq[String] =
    resolve(setting, settings, node, column) match {
      case Some(s: Seq[_]) => s.map(_.toString)
      case Some(s: String) => Seq(s)
      case _ => fallback
    }

  def resolveString(setting: Setting, fallback: Option[String], settings: EngineSettings,
      node: Option[NodeMeta], column: Option[String]): Option[String] =
    resolve(setting, settings, node, column) match {
      case Some(s: String) => Some(s)
      case _ => fallback
    }

  def resolveBool(name: String, fallback: Boolean, settings: EngineSettings,
      node: Option[NodeMeta] = None, column: Option[String] = None): Boolean =
    resolveBool(Setting.named(name), fallback, settings, node, column)

  def resolveSeq(name: String, fallback: Seq[String], settings: EngineSettings,
      node: Option[NodeMeta] = None, column: Option[String] = None): Seq[String] =
    resolveSeq(Setting.named(name), fallback, settings, node, column)

  def resolveString(name: String, fallback: Option[String], settings: EngineSettings,
      node: Option[NodeMeta] = None, column: Option[String] = None): Option[String] =
    resolveString(Setting.named(name), fallback, settings, node, column)
}
