package graft.core

import scala.collection.immutable.{HashMap, ListMap, VectorMap}

/** Engine-owned project model (SURVEY §1.1): the manifest is a small
  * driver-side graph (10³–10⁴ nodes) of models/seeds/sources with
  * ordered column metadata; Plane-B execution compiles node SQL to
  * Spark and runs it through Catalyst.
  *
  * Column metadata is dynamic (user YAML can carry arbitrary meta), so
  * the knowledge-graph layer works on `Map[String, Any]` documents;
  * the typed shell below carries the structural fields.
  *
  * Reference semantics: node shape at core/inheritance.py:290-339 and
  * core/node_filters.py:86-88 (fields used by traversal/filtering).
  */
final case class ColumnMeta(
    name: String,
    description: Option[String] = None,
    dataType: Option[String] = None,
    meta: ListMap[String, Any] = ListMap.empty,
    tags: Seq[String] = Nil,
    constraints: Seq[Any] = Nil,
    config: Map[String, Any] = Map.empty,
    /** Declared generic tests (`tests:`/`data_tests:` YAML keys) —
      * strings or single-key config maps, executed by TestRunner.
      */
    tests: Seq[Any] = Nil) {

  /** Dynamic-document view (reference `_column_to_dict(omit_none)`). */
  def toDoc: Map[String, Any] = {
    var m = ListMap[String, Any]("name" -> name)
    description.foreach(d => m += "description" -> d)
    dataType.foreach(t => m += "data_type" -> t)
    if (meta.nonEmpty) m += "meta" -> (meta: Map[String, Any])
    if (tags.nonEmpty) m += "tags" -> tags
    if (constraints.nonEmpty) m += "constraints" -> constraints
    if (config.nonEmpty) m += "config" -> config
    m
  }

  /** Apply a knowledge-graph document back onto the column
    * (reference `node_column.replace(**updated_metadata)`).
    */
  def withDoc(doc: Map[String, Any]): ColumnMeta = {
    var c = this
    doc.get("description").foreach { case d: String => c = c.copy(description = Some(d)); case _ => }
    doc.get("data_type").foreach { case t: String => c = c.copy(dataType = Some(t)); case _ => }
    doc.get("meta").foreach { case m: Map[_, _] =>
      c = c.copy(meta = ListMap(m.asInstanceOf[Map[String, Any]].toSeq: _*)); case _ => }
    doc.get("tags").foreach { case t: Seq[_] => c = c.copy(tags = t.map(_.toString)); case _ => }
    doc.get("config").foreach { case cf: Map[_, _] =>
      c = c.copy(config = cf.asInstanceOf[Map[String, Any]]); case _ => }
    c
  }
}

final case class NodeMeta(
    uniqueId: String,
    name: String,
    resourceType: String, // "model" | "seed" | "source"
    database: String = "main",
    schema: String = "main",
    packageName: String = "project",
    fqn: Seq[String] = Nil,
    path: String = "",
    patchPath: Option[String] = None,
    deps: Seq[String] = Nil,
    rawCode: String = "",
    compiledCode: Option[String] = None,
    description: String = "",
    meta: Map[String, Any] = Map.empty,
    tags: Seq[String] = Nil,
    config: Map[String, Any] = Map.empty,
    columns: ListMap[String, ColumnMeta] = ListMap.empty,
    materialized: String = "view",
    version: Option[Any] = None,
    latestVersion: Option[Any] = None,
    /** Raw (unrendered) node config, as written in the model's
      * `config()` block / YAML before jinja rendering — a settings
      * source in the resolution chain (dbt 1.10+ semantics).
      */
    unrenderedConfig: Map[String, Any] = Map.empty,
    /** Raw (unrendered) YAML column docs, keyed by column name — used
      * to preserve `{{ doc(...) }}` references during inheritance.
      */
    unrenderedColumns: Map[String, Map[String, Any]] = Map.empty) {

  def isEphemeral: Boolean = materialized == "ephemeral"

  /** `columns` hashed by name, built on first use: inheritance looks
    * up every descendant column's name variants in each ancestor.
    */
  private[core] lazy val columnIndex: Map[String, ColumnMeta] = HashMap.from(columns)

  /** Cross-project node injected from a dbt-loom external manifest
    * (reference config.py:519-561): resolvable by `ref()` and usable
    * as an inheritance ancestor, but never a transform/build target —
    * its YAML and relations belong to the other project.
    */
  def isLoomInjected: Boolean =
    meta.get("dbt-osmosis-loom-injected").contains(true)
  def withColumns(cols: Seq[ColumnMeta]): NodeMeta =
    copy(columns = ListMap(cols.map(c => c.name -> c): _*))
}

/** One mocked input of a dbt unit test: the `input:` ref/source
  * string as written (`ref('stg_x')`, `source('s','t')`, or `this`)
  * and its fixture rows. `format: dict` rows arrive as maps;
  * `format: csv` rows arrive pre-parsed to the same maps (all-string
  * values — the runner casts against the real input's schema, dbt's
  * own type-derivation rule).
  */
final case class UnitTestInput(input: String, rows: Seq[Map[String, Any]],
    /** `format: sql` fixture (inline `rows:` string or a
      * `fixture:` file under tests/fixtures/): the query ITSELF
      * defines the mock's columns and types — dbt applies no cast
      * against the real input for sql fixtures. Exactly one of
      * `rows`/`sql` is populated.
      */
    sql: Option[String] = None)

/** A dbt `unit_tests:` block entry (reference core/schema/parser.py:19
  * manages the YAML key; dbt-core executes the semantics): render the
  * model with `given` fixtures substituted for its refs/sources and
  * compare against `expect` rows — column-subset match on exactly the
  * columns the expect rows name, unordered unless `expect.ordered` is
  * set.
  */
final case class UnitTestMeta(
    name: String,
    model: String,
    given: Seq[UnitTestInput],
    expect: Seq[Map[String, Any]],
    expectOrdered: Boolean = false,
    description: String = "",
    /** `overrides:` — `vars:` merge over project vars; `macros:`
      * carries `is_incremental` (dbt's incremental-mode switch) plus
      * arbitrary macro stubs: any other name makes every call of that
      * macro return the given constant (builtin or project-defined).
      */
    overrides: Map[String, Any] = Map.empty,
    /** `expect` in `format: sql`: the query's result is the expected
      * multiset, compared on exactly the columns it emits. Populated
      * instead of `expect` rows.
      */
    expectSql: Option[String] = None)

/** The nodes by unique id, in insertion order. A `VectorMap` keeps
  * that order with hashed `get` and `updated`, which the transform
  * pipeline calls once per node per step.
  */
final case class Manifest(nodes: VectorMap[String, NodeMeta]) {
  /** See [[refCandidates]]; built on first use. */
  @volatile private var refIndex: Map[String, Vector[String]] = _

  def get(uid: String): Option[NodeMeta] = nodes.get(uid)

  /** Replaces (or appends) one node. When it replaces a node of the
    * same name, the next manifest shares this one's ref index: the
    * index keys and the manifest order are unchanged.
    */
  def updated(node: NodeMeta): Manifest = {
    val next = copy(nodes = nodes.updated(node.uniqueId, node))
    if (nodes.get(node.uniqueId).exists(_.name == node.name)) next.refIndex = refIndex
    next
  }

  def models: Iterable[NodeMeta] = nodes.values.filter(_.resourceType == "model")

  /** The nodes a `ref(name)` may reach by name, in manifest order:
    * those named `name`, and dbt's versioned `<name>_v<N>`. Callers
    * filter by resource type.
    */
  def refCandidates(name: String): Seq[NodeMeta] = {
    var index = refIndex
    if (index == null) {
      index = nodes.valuesIterator.flatMap { n =>
        val keys = n.name match {
          case Manifest.Versioned(base) => Seq(n.name, base)
          case _ => Seq(n.name)
        }
        keys.map(_ -> n.uniqueId)
      }.toSeq.groupMap(_._1)(_._2).view.mapValues(_.toVector).toMap
      refIndex = index
    }
    index.getOrElse(name, Vector.empty).flatMap(nodes.get)
  }
}

object Manifest {
  def apply(nodes: Seq[NodeMeta]): Manifest =
    Manifest(VectorMap.from(nodes.map(n => n.uniqueId -> n)))

  private val Versioned = "(?s)(.*)_v\\d+".r
}
