package graft.core

import scala.jdk.CollectionConverters._

/** Column-candidate plugin SPI — the JVM face of the reference's
  * pluggy hook (core/plugins.py:25-72): each plugin contributes
  * candidate names under which a column may match an ancestor's
  * columns, and the engine folds every plugin's contributions into
  * the variant list [[Inheritance.collectColumnVariants]] feeds the
  * ancestor scan.
  *
  * Implementations with a public no-arg constructor are discovered
  * from the classpath via `java.util.ServiceLoader`
  * (`META-INF/services/graft.core.ColumnCandidatePlugin`) — the JVM
  * equivalent of `load_setuptools_entrypoints` — and embedders/tests
  * can also [[ColumnCandidatePlugins.register]] programmatically.
  */
trait ColumnCandidatePlugin {
  /** Candidate names for matching `name` upstream; order matters
    * (earlier candidates win the first-present scan).
    */
  def getCandidates(name: String, node: NodeMeta,
      settings: EngineSettings): Seq[String]
}

/** Built-in: case variants (lower, UPPER, camelCase, PascalCase) —
  * FuzzyCaseMatching (core/plugins.py:31-43).
  */
final class FuzzyCaseMatching extends ColumnCandidatePlugin {
  override def getCandidates(name: String, node: NodeMeta,
      settings: EngineSettings): Seq[String] =
    Inheritance.caseVariants(name)
}

/** Built-in: the prefix-stripped form when a `prefix` setting
  * resolves — FuzzyPrefixMatching (core/plugins.py:46-62).
  */
final class FuzzyPrefixMatching extends ColumnCandidatePlugin {
  override def getCandidates(name: String, node: NodeMeta,
      settings: EngineSettings): Seq[String] =
    SettingsResolver
      .resolveString("prefix", settings.prefix, settings, Some(node), Some(name))
      .filter(name.startsWith).map(p => name.stripPrefix(p)).toSeq
}

/** Plugin registry. pluggy dispatches hooks LIFO with respect to
  * registration (core/plugins.py:66-72 registers FuzzyCaseMatching,
  * then FuzzyPrefixMatching, then setuptools entrypoints), so in the
  * reference an entrypoint plugin's candidates PRECEDE the built-ins'
  * and FuzzyPrefixMatching's precede FuzzyCaseMatching's. [[all]]
  * mirrors that: latest programmatic registrations first, then
  * classpath-discovered services (reverse discovery order), then the
  * built-ins reversed — so under first-present-wins an external
  * plugin can shadow a built-in variant exactly as pluggy's LIFO
  * dispatch allows. Discovery runs once per JVM (the reference
  * memoizes its plugin manager the same way).
  */
object ColumnCandidatePlugins {
  private val builtIns: Seq[ColumnCandidatePlugin] =
    Seq(new FuzzyCaseMatching, new FuzzyPrefixMatching)

  /** Looked up through the loader of the plugin trait itself, not the
    * context loader of whichever thread (a pool thread, say) first
    * asks, so discovery does not depend on that thread.
    */
  private lazy val discovered: Seq[ColumnCandidatePlugin] =
    java.util.ServiceLoader.load(classOf[ColumnCandidatePlugin],
      classOf[ColumnCandidatePlugin].getClassLoader).iterator().asScala.toSeq

  private val registered =
    new java.util.concurrent.CopyOnWriteArrayList[ColumnCandidatePlugin]()

  /** Programmatic registration (embedders, tests). */
  def register(p: ColumnCandidatePlugin): Unit = registered.add(p)

  /** Remove a programmatic registration. */
  def unregister(p: ColumnCandidatePlugin): Unit = registered.remove(p)

  def all: Seq[ColumnCandidatePlugin] =
    registered.asScala.toSeq.reverse ++ discovered.reverse ++ builtIns.reverse
}
