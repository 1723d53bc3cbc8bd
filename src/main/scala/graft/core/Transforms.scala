package graft.core

import scala.collection.immutable.{BitSet, ListMap}
import scala.collection.mutable
import scala.util.{Failure, Success}

import org.apache.spark.sql.SparkSession

import graft.core.Introspection.IntrospectedColumn

/** Schema-reconciliation transforms (A19–A26): reconcile a node's
  * documented columns against the live (Spark) schema, mirroring
  * core/transforms.py semantics. All pure NodeMeta → NodeMeta given an
  * introspected column map; the Spark-backed entry points fetch that
  * map via [[Introspection]].
  */
object Transforms {

  private def caseModes(node: NodeMeta, settings: EngineSettings): (Boolean, Boolean) = (
    SettingsResolver.resolveBool(Setting.OutputToUpper, settings.outputToUpper, settings,
      Some(node), None),
    SettingsResolver.resolveBool(Setting.OutputToLower, settings.outputToLower, settings,
      Some(node), None))

  /** A20 inject: DB − YAML set difference appended, with case-fold
    * compare when an output case mode is on, optional dtype stamping,
    * comment → description (core/transforms.py:321-399).
    */
  def injectMissingColumns(node: NodeMeta, incoming: ListMap[String, IntrospectedColumn],
      settings: EngineSettings): NodeMeta = {
    if (SettingsResolver.resolveBool(Setting.SkipAddColumns, fallback = false, settings,
        Some(node), None))
      return node
    val (toUpper, toLower) = caseModes(node, settings)
    val caseInsensitive = toUpper || toLower
    val cred = settings.credentialsType
    val current = node.columns.values.map { c =>
      val n = Introspection.normalizeColumnName(c.name, cred)
      if (caseInsensitive) n.toLowerCase else n
    }.toSet

    var columns = node.columns
    for ((incomingName, meta) <- incoming) {
      val compare = if (caseInsensitive) incomingName.toLowerCase else incomingName
      if (!current.contains(compare)) {
        val finalName =
          if (toUpper) incomingName.toUpperCase
          else if (toLower) incomingName.toLowerCase
          else incomingName
        val dtype =
          if (SettingsResolver.resolveBool(Setting.SkipAddDataTypes, fallback = false,
              settings, Some(node), None)) None
          else Some(
            if (toUpper) meta.dataType.toUpperCase
            else if (toLower) meta.dataType.toLowerCase
            else meta.dataType)
        columns = columns.updated(finalName, ColumnMeta(
          name = finalName,
          description = Some(meta.comment.getOrElse("")),
          dataType = dtype))
      }
    }
    node.copy(columns = columns)
  }

  /** A21 remove: YAML − DB set difference dropped
    * (core/transforms.py:402-455). No-op when introspection found
    * nothing (safety against dropping everything).
    */
  def removeColumnsNotInDatabase(node: NodeMeta, incoming: ListMap[String, IntrospectedColumn],
      settings: EngineSettings): NodeMeta = {
    if (incoming.isEmpty) return node
    val (toUpper, toLower) = caseModes(node, settings)
    val caseInsensitive = toUpper || toLower
    val cred = settings.credentialsType
    val incomingKeys =
      if (caseInsensitive) incoming.keySet.map(_.toLowerCase) else incoming.keySet
    val keep = node.columns.filter { case (key, c) =>
      val n = Introspection.normalizeColumnName(c.name, cred)
      incomingKeys.contains(if (caseInsensitive) n.toLowerCase else n)
    }
    node.copy(columns = keep)
  }

  /** A22 sort by warehouse ordinal, unknown columns last
    * (core/transforms.py:458-508).
    */
  def sortColumnsAsInDatabase(node: NodeMeta, incoming: ListMap[String, IntrospectedColumn],
      settings: EngineSettings): NodeMeta = {
    if (incoming.isEmpty) return node
    val (toUpper, toLower) = caseModes(node, settings)
    val caseInsensitive = toUpper || toLower
    val cred = settings.credentialsType
    val byLower = incoming.map { case (k, v) =>
      Introspection.normalizeColumnName(k, cred).toLowerCase -> v
    }
    def position(name: String): Int = {
      val normalized = Introspection.normalizeColumnName(name, cred)
      val inc = if (caseInsensitive) byLower.get(normalized.toLowerCase)
                else incoming.get(normalized)
      inc.map(_.index).getOrElse(99999)
    }
    node.copy(columns = ListMap(node.columns.toSeq.sortBy { case (k, _) => position(k) }: _*))
  }

  /** A23 sort alphabetically by final-cased name (core/transforms.py:511-555). */
  def sortColumnsAlphabetically(node: NodeMeta, settings: EngineSettings): NodeMeta = {
    val (toUpper, toLower) = caseModes(node, settings)
    def key(name: String): String =
      if (toUpper) name.toUpperCase else if (toLower) name.toLowerCase else name
    node.copy(columns = ListMap(node.columns.toSeq.sortBy { case (k, _) => key(k) }: _*))
  }

  /** A24 dispatch on the sort-by setting (core/transforms.py:558-580). */
  def sortColumnsAsConfigured(node: NodeMeta, incoming: ListMap[String, IntrospectedColumn],
      settings: EngineSettings): NodeMeta =
    SettingsResolver.resolveString(Setting.SortBy, Some(settings.sortBy), settings,
        Some(node), None).get match {
      case "database" => sortColumnsAsInDatabase(node, incoming, settings)
      case "alphabetical" => sortColumnsAlphabetically(node, settings)
      case other => throw new IllegalArgumentException(
        s"Invalid sort-by value: $other for node: ${node.uniqueId}")
    }

  /** A25 sync data types from the warehouse, honoring per-column
    * skip + case-output modes and preserving an existing lowercase
    * style (core/transforms.py:583-644).
    */
  def synchronizeDataTypes(node: NodeMeta, incoming: ListMap[String, IntrospectedColumn],
      settings: EngineSettings): NodeMeta = {
    if (SettingsResolver.resolveBool(Setting.SkipAddDataTypes, fallback = false, settings,
        Some(node), None))
      return node
    val cred = settings.credentialsType
    val incomingLower = incoming.map { case (k, v) => k.toLowerCase -> v }
    val columns = node.columns.map { case (name, column) =>
      if (SettingsResolver.resolveBool(Setting.SkipAddDataTypes,
          fallback = false, settings, Some(node), Some(name))) {
        name -> column
      } else {
        val lower = SettingsResolver.resolveBool(Setting.OutputToLower,
          settings.outputToLower, settings, Some(node), Some(name))
        val upper = SettingsResolver.resolveBool(Setting.OutputToUpper,
          settings.outputToUpper, settings, Some(node), Some(name))
        val normalized = Introspection.normalizeColumnName(name, cred)
        val inc = incoming.get(normalized)
          .orElse(if (lower || upper) incomingLower.get(normalized.toLowerCase) else None)
        inc match {
          case Some(ic) if ic.dataType.nonEmpty =>
            val isLowerStyle = column.dataType.exists(dt => dt == dt.toLowerCase && dt.nonEmpty)
            val dt =
              if (upper) ic.dataType.toUpperCase
              else if (lower || isLowerStyle) ic.dataType.toLowerCase
              else ic.dataType
            name -> column.copy(dataType = Some(dt))
          case _ => name -> column
        }
      }
    }
    node.copy(columns = columns)
  }

  // --- Spark-backed drivers over candidate nodes -------------------

  /** Table name a node materializes to (for introspection). */
  def relationFor(node: NodeMeta): String = node.name

  def withIntrospection(spark: SparkSession, settings: EngineSettings)(
      f: (NodeMeta, ListMap[String, IntrospectedColumn]) => NodeMeta): NodeMeta => NodeMeta =
    node => f(node, Introspection.getColumns(spark, relationFor(node), settings, Some(node)))

  // --- A26 pipeline combinator -------------------------------------

  final case class StepResult(name: String, seconds: Double, mutated: Int)

  final case class PipelineResult(manifest: Manifest, steps: Seq[StepResult])

  /** Whether a step changed a node. `NodeMeta` equality compares
    * `columns` as a map, which ignores order, so a step that only
    * reorders columns (`sort`) is caught by comparing key order too.
    */
  private def changed(next: NodeMeta, current: NodeMeta): Boolean =
    next != current || !next.columns.keysIterator.sameElements(current.columns.keysIterator)

  /** Chainable transform pipeline with per-step timing, applied over
    * topologically sorted candidates (core/transforms.py:53-214) and
    * fanned out like the reference's thread pool (:226-231).
    *
    * Contract: an op may read from the manifest only the node it is
    * given and that node's ancestors (through `deps`), must return that
    * same node (same `uniqueId`), and must be safe to call from several
    * threads at once. Every op in the tree keeps it: inject, remove,
    * sort and sync-types read the node alone; inherit reads its
    * `ancestorTree`, and a progenitor override applies only to an
    * ancestor; synthesize reads the node's `deps`.
    *
    * Under that contract each step runs its candidates in waves (see
    * [[Pipeline.waves]]): every op of a wave runs concurrently against
    * the manifest as it stood when the wave began, and then the
    * results are applied in topological order. Each op therefore sees
    * exactly the ancestors it would see if the candidates ran one by
    * one in topological order, so the manifest and `mutated` are those
    * of a sequential run. If ops throw, the exception of the first
    * failing node in topological order is rethrown.
    */
  final case class Pipeline(steps: Seq[(String, (Manifest, NodeMeta) => NodeMeta)]) {
    def andThen(name: String, op: (Manifest, NodeMeta) => NodeMeta): Pipeline =
      copy(steps = steps :+ (name -> op))

    def run(manifest: Manifest,
        filter: NodeFilters.NodeFilter = NodeFilters.NodeFilter()): PipelineResult = {
      var m = manifest
      val results = steps.map { case (name, op) =>
        val t0 = System.nanoTime()
        var mutated = 0
        val ordered = NodeFilters.topologicalSort(NodeFilters.candidates(m, filter)).toIndexedSeq
        var firstFailure = Int.MaxValue
        var failure: Throwable = null
        for (wave <- Pipeline.waves(m, ordered)) {
          // a node after a known failure cannot change what is thrown
          val todo = wave.filter(_ < firstFailure)
          val start = m
          val current = todo.map(i => start.get(ordered(i).uniqueId).get)
          val outcomes = Parallel.attempt(current)(op(start, _))
          for (k <- todo.indices) outcomes(k) match {
            case Success(next) =>
              if (changed(next, current(k))) { mutated += 1; m = m.updated(next) }
            case Failure(e) =>
              if (todo(k) < firstFailure) { firstFailure = todo(k); failure = e }
          }
        }
        if (failure != null) throw failure
        StepResult(name, (System.nanoTime() - t0) / 1e9, mutated)
      }
      PipelineResult(m, results)
    }
  }

  object Pipeline {
    def apply(): Pipeline = Pipeline(Seq.empty)

    /** Groups the positions of `ordered` (a topological order of the
      * candidates) into waves that may run concurrently, earliest wave
      * first, each in ascending position. A node's candidate ancestors
      * are found through the `deps` of every manifest node, so a path
      * through a node that is not a candidate counts too. Such an
      * ancestor may come after the node in `ordered`, and then a
      * sequential run shows the node that ancestor's old value. So a
      * node's wave is one past that of every candidate ancestor before
      * it, and no later than that of every candidate ancestor after it.
      * A dependency cycle outside the candidates puts every node in a
      * wave of its own.
      */
    private[core] def waves(manifest: Manifest, ordered: IndexedSeq[NodeMeta]): Seq[Seq[Int]] = {
      val position = ordered.iterator.map(_.uniqueId).zipWithIndex.toMap
      val memo = mutable.HashMap.empty[String, BitSet]
      val visiting = mutable.HashSet.empty[String]
      var cyclic = false
      // positions of the candidate ancestors of `uid`
      def ancestors(uid: String): BitSet = memo.getOrElse(uid, {
        if (!visiting.add(uid)) { cyclic = true; BitSet.empty }
        else {
          val deps = manifest.get(uid).fold(Seq.empty[String])(_.deps)
          val found = deps.foldLeft(BitSet.empty) { (acc, d) =>
            if (manifest.get(d).isEmpty) acc
            else acc ++ ancestors(d) ++ position.get(d)
          }
          visiting -= uid
          memo(uid) = found
          found
        }
      })
      val wave = new Array[Int](ordered.size)
      val floor = new Array[Int](ordered.size)
      for (i <- ordered.indices) {
        val up = ancestors(ordered(i).uniqueId)
        var w = floor(i)
        up.foreach(a => if (a < i) w = math.max(w, wave(a) + 1))
        wave(i) = w
        up.foreach(a => if (a > i) floor(a) = math.max(floor(a), w))
      }
      if (cyclic) ordered.indices.map(Seq(_))
      else ordered.indices.groupBy(wave(_)).toSeq.sortBy(_._1).map(_._2.sorted)
    }
  }
}
