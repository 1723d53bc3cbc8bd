package graft.core

import java.io.{StringReader, StringWriter}
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.{DumperOptions, LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.Constructor
import org.yaml.snakeyaml.nodes.{MappingNode, Node, NodeTuple, ScalarNode, SequenceNode}
import org.yaml.snakeyaml.representer.Representer

/** Round-trip YAML I/O for schema files (A31/A32;
  * core/schema/reader.py, writer.py): managed sections
  * (version/models/sources/seeds/unit_tests/data_tests) are parsed and
  * rewritten; ALL other top-level keys are preserved verbatim across a
  * write — the reference's actual preservation guarantee
  * (core/schema/parser.py:49-65). Writes are atomic
  * (temp file + size validation + ATOMIC_MOVE), reads go through an
  * LRU(256) buffer cache with dirty pinning.
  *
  * Comment preservation (the reference gets this from ruamel's
  * round-trip mode, core/schema/parser.py:15-22): [[read]] keeps the
  * comment-bearing composed `Node` tree beside the plain-map doc, and
  * [[write]] grafts those comments onto the freshly-dumped tree —
  * keys matched by name, list items matched by their `name:` field
  * (by index for nameless lists) — before serializing with
  * `processComments`. Comments therefore survive edits anywhere in
  * the file, managed sections included, as long as their anchor node
  * survives; comments on deleted nodes are dropped, exactly like
  * ruamel. Anchors/aliases round-trip too: the graft re-links alias
  * sites that stayed structurally identical back to their (named)
  * anchor node, so `&a`/`*a` survive a write — see [[graftComments]]
  * for the exact contract (diverged sites materialize). Inert anchors
  * (declared, never aliased) survive via `setAnchor` + the snakeyaml
  * anchor generator, and `<<` merge keys are re-instated from the
  * composed tree when the merge still holds — see [[restoreMergeKey]]
  * (chained merges inside anchor bodies resolve transitively).
  */
object YamlIO {

  val ManagedKeys: Seq[String] =
    Seq("version", "models", "sources", "seeds", "unit_tests", "data_tests")

  /** `source` is the comment-bearing composed node tree of the file
    * this doc was read from (None for docs built in memory) — carried
    * through `.copy(managed = ...)` edits so [[write]] can restore
    * comments. `keyOrder` is the file's original top-level key order
    * ([[partition]] records it): [[full]] re-interleaves managed and
    * preserved keys back into document order — which both matches
    * ruamel's round-trip behavior and keeps an `&anchor` declaration
    * ahead of its `*alias` sites (the graft binds the anchor to its
    * first occurrence in document order). Keys an edit introduced
    * append after the original ones.
    */
  final case class YamlDoc(
      managed: ListMap[String, Any],
      preserved: ListMap[String, Any],
      source: Option[Node] = None,
      keyOrder: Seq[String] = Nil) {
    def full: ListMap[String, Any] = {
      val all = managed ++ preserved
      val ordered = keyOrder.filter(all.contains) ++
        all.keys.filterNot(keyOrder.contains).toSeq
      ListMap(ordered.map(k => k -> all(k)): _*)
    }
  }

  private val MaxCacheEntries = 256
  private final case class CacheEntry(doc: YamlDoc, var dirty: Boolean)
  private val cache = new java.util.LinkedHashMap[Path, CacheEntry](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Path, CacheEntry]): Boolean =
      size() > MaxCacheEntries && !e.getValue.dirty // dirty entries pinned
  }

  private def newYaml(): Yaml = {
    val opts = new DumperOptions
    opts.setDefaultFlowStyle(DumperOptions.FlowStyle.BLOCK)
    opts.setIndent(2)
    opts.setIndicatorIndent(0)
    opts.setWidth(120)
    opts.setProcessComments(true)
    val loader = new LoaderOptions
    loader.setProcessComments(true)
    new Yaml(new Constructor(loader), new Representer(opts), opts, loader)
  }

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      ListMap(m.asScala.toSeq.map { case (k, value) => k.toString -> toScala(value) }: _*)
    case l: java.util.List[_] => l.asScala.toSeq.map(toScala)
    case other => other
  }

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, value) => out.put(k.toString, toJava(value)) }
      out
    case s: Seq[_] => s.map(toJava).asJava
    case other => other
  }

  def partition(doc: Map[String, Any]): YamlDoc = YamlDoc(
    managed = ListMap(doc.toSeq.filter { case (k, _) => ManagedKeys.contains(k) }: _*),
    preserved = ListMap(doc.toSeq.filterNot { case (k, _) => ManagedKeys.contains(k) }: _*),
    keyOrder = doc.keys.toSeq)

  /** Cached read; missing file → empty doc. The file is parsed
    * outside the cache lock, so reads of distinct files run in
    * parallel; an entry cached meanwhile (a buffered edit, or another
    * read) wins over the parse.
    */
  def read(path: Path): YamlDoc =
    cache.synchronized(Option(cache.get(path))).map(_.doc).getOrElse {
      val doc = parse(path)
      cache.synchronized {
        Option(cache.get(path)).map(_.doc).getOrElse {
          cache.put(path, CacheEntry(doc, dirty = false))
          doc
        }
      }
    }

  private def parse(path: Path): YamlDoc =
    if (!Files.exists(path)) YamlDoc(ListMap.empty, ListMap.empty)
    else {
      val text = Files.readString(path)
      toScala(newYaml().load[Any](text)) match {
        case m: Map[_, _] =>
          partition(m.asInstanceOf[Map[String, Any]])
            .copy(source = Option(newYaml().compose(new StringReader(text))))
        case _ => YamlDoc(ListMap.empty, ListMap.empty)
      }
    }

  /** Buffer an updated doc (pins the cache entry until committed). */
  def buffer(path: Path, doc: YamlDoc): Unit = cache.synchronized {
    cache.put(path, CacheEntry(doc, dirty = true))
  }

  private def copyComments(o: Node, n: Node): Unit = {
    if (o.getBlockComments != null) n.setBlockComments(o.getBlockComments)
    if (o.getInLineComments != null) n.setInLineComments(o.getInLineComments)
    if (o.getEndComments != null) n.setEndComments(o.getEndComments)
  }

  private def scalarKey(t: NodeTuple): Option[String] = t.getKeyNode match {
    case s: ScalarNode => Some(s.getValue)
    case _ => None
  }

  /** A mapping list item's identity: its `name:` scalar (models,
    * sources, columns, tests-with-names all carry one).
    */
  private def nameOf(n: Node): Option[String] = n match {
    case m: MappingNode => m.getValue.asScala.collectFirst {
      case t if scalarKey(t).contains("name") => t.getValueNode match {
        case s: ScalarNode => s.getValue
        case _ => ""
      }
    }
    case _ => None
  }

  /** Structural node equality — the guard deciding whether an alias
    * site may re-link to its anchor after edits (see
    * [[graftComments]]): tags, scalar values, entry order, all
    * recursive.
    */
  private def deepEq(a: Node, b: Node): Boolean = (a, b) match {
    case (x: ScalarNode, y: ScalarNode) =>
      x.getTag == y.getTag && x.getValue == y.getValue
    case (x: MappingNode, y: MappingNode) =>
      val xv = x.getValue.asScala.toSeq
      val yv = y.getValue.asScala.toSeq
      xv.size == yv.size && xv.zip(yv).forall { case (t, u) =>
        deepEq(t.getKeyNode, u.getKeyNode) &&
          deepEq(t.getValueNode, u.getValueNode)
      }
    case (x: SequenceNode, y: SequenceNode) =>
      val xs = x.getValue.asScala.toSeq
      val ys = y.getValue.asScala.toSeq
      xs.size == ys.size && xs.zip(ys).forall { case (i, j) => deepEq(i, j) }
    case _ => false
  }

  /** Graft comments AND anchors/aliases from the originally-composed
    * tree onto the freshly-dumped one: mapping entries match by
    * scalar key, list items by `name:` when any item has one (so
    * reordering keeps comments with their item) else by index;
    * comments whose anchor node was deleted are dropped.
    *
    * Anchors/aliases (the ruamel behavior the reference inherits,
    * core/schema/parser.py:15-22): the composed tree shares ONE node
    * instance across an anchor and its aliases, which the plain-map
    * load materialized into copies. The walk carries an identity map
    * of original→fresh nodes; revisiting an original instance marks
    * an alias site, and if the edited doc kept that site structurally
    * identical to the anchor's, the fresh copy is REPLACED by the
    * shared fresh node — the serializer then re-emits `&anchor` /
    * `*alias` (under the original anchor NAME, which rides
    * `setAnchor` into the snakeyaml anchor generator). A site the
    * edit diverged stays materialized, which is the only correct
    * reading of "the alias no longer holds". Anchors declared but
    * never aliased ride `setAnchor` alone (the snakeyaml serializer
    * emits single-occurrence anchors when the node carries one), and
    * `<<` merge keys are re-instated by [[restoreMergeKey]]. Returns
    * the node to place at this position.
    */
  private def graftComments(o: Node, n: Node,
      seen: java.util.IdentityHashMap[Node, Node]): Node = {
    val prior = seen.get(o)
    // re-link ONLY genuine alias sites — the shared instance of a real
    // anchor carries its anchor name from the composer. A seen-map hit
    // WITHOUT one is two same-named (possibly identical) list items
    // both matched to one original by name; substituting there would
    // invent an &id001/*id001 pair the user never wrote.
    if (prior != null)
      return if (o.getAnchor != null && deepEq(prior, n)) prior else n
    seen.put(o, n)
    if (o.getAnchor != null) n.setAnchor(o.getAnchor)
    copyComments(o, n)
    (o, n) match {
      case (om: MappingNode, nm: MappingNode) =>
        val byKey = om.getValue.asScala
          .flatMap(t => scalarKey(t).map(_ -> t)).toMap
        val rebuilt = nm.getValue.asScala.toSeq.map { nt =>
          scalarKey(nt).flatMap(byKey.get) match {
            case Some(ot) =>
              copyComments(ot.getKeyNode, nt.getKeyNode)
              val v = graftComments(ot.getValueNode, nt.getValueNode, seen)
              if (v eq nt.getValueNode) nt else new NodeTuple(nt.getKeyNode, v)
            case None => nt
          }
        }
        nm.setValue(restoreMergeKey(om, rebuilt, seen).asJava)
      case (os: SequenceNode, ns: SequenceNode) =>
        val items = ns.getValue // composer-built ArrayList: mutable
        val oldItems = os.getValue.asScala.toSeq
        val oldNames = oldItems.map(nameOf)
        if (oldNames.exists(_.isDefined)) {
          val byName = oldItems.zip(oldNames)
            .collect { case (it, Some(nm0)) => nm0 -> it }.toMap
          var i = 0
          while (i < items.size()) {
            val ni = items.get(i)
            nameOf(ni).flatMap(byName.get).foreach { oi =>
              val r = graftComments(oi, ni, seen)
              if (!(r eq ni)) items.set(i, r)
            }
            i += 1
          }
        } else {
          var i = 0
          while (i < math.min(oldItems.size, items.size())) {
            val r = graftComments(oldItems(i), items.get(i), seen)
            if (!(r eq items.get(i))) items.set(i, r)
            i += 1
          }
        }
      case _ => ()
    }
    n
  }

  /** Re-instates a `<<` merge key the plain-map load flattened
    * (SafeConstructor.flattenMapping — the composed tree still holds
    * the merge tuple, whose value node IS the anchor's shared
    * instance). If every key the merge contributed (anchor keys not
    * locally overridden) is still present in the freshly-dumped
    * mapping with a value structurally identical to the (already
    * grafted) anchor's, those materialized tuples are dropped and the
    * original `<<` tuple is re-inserted at its original position,
    * pointing at the FRESH anchor node — the serializer then sees two
    * occurrences and re-emits `&name` / `<<: *name`. Any divergence
    * (an edit to an inherited value, a vanished key, an anchor
    * defined after the merge site) keeps the mapping flattened, which
    * is the only correct reading of "the merge no longer holds".
    * Single `<<` per mapping (YAML forbids duplicates); both the
    * single-alias and sequence-of-aliases forms are handled. A
    * CHAINED merge (the anchor body itself merging another anchor)
    * resolves through [[effectiveEntries]]: sources restored earlier
    * in the walk already carry their own re-instated `<<`, so the
    * contribution check expands them recursively — a two-level chain
    * round-trips as a chain (reference semantics:
    * core/schema/parser.py:15-22, ruamel's RoundTripLoader).
    */
  private def restoreMergeKey(om: MappingNode, rebuilt: Seq[NodeTuple],
      seen: java.util.IdentityHashMap[Node, Node]): Seq[NodeTuple] = {
    val omTuples = om.getValue.asScala.toSeq
    val mergeTuple = omTuples.find(t => t.getKeyNode match {
      case s: ScalarNode =>
        s.getTag.getValue == "tag:yaml.org,2002:merge" || s.getValue == "<<"
      case _ => false
    })
    mergeTuple match {
      case None => rebuilt
      case Some(mt) =>
        val sources: Seq[Node] = mt.getValueNode match {
          case sq: SequenceNode => sq.getValue.asScala.toSeq
          case other => Seq(other)
        }
        val freshSources = sources.map(s => Option(seen.get(s)))
        val freshMaps = freshSources.flatten.collect { case m: MappingNode => m }
        if (freshMaps.size != sources.size) return rebuilt
        val localKeys = omTuples.filterNot(_ eq mt).flatMap(scalarKey(_)).toSet
        // keys the merge contributed: first-wins across sources (YAML
        // merge precedence), locals excluded. Sources restored earlier
        // in the walk may already carry a re-instated `<<` of their
        // own (a merge CHAIN) — expand each source to its effective
        // key set so the chain's transitive contributions are checked
        // against this mapping's materialized values.
        val expanded = freshMaps.map(m =>
          effectiveEntries(m, new java.util.IdentityHashMap[Node, Node]()))
        if (expanded.exists(_.isEmpty)) return rebuilt
        val inherited = scala.collection.mutable.LinkedHashMap[String, Node]()
        expanded.flatMap(_.get).foreach { case (k, v) =>
          if (k != "<<" && !localKeys.contains(k) && !inherited.contains(k))
            inherited(k) = v
        }
        if (inherited.isEmpty) return rebuilt
        val curByKey = rebuilt.flatMap(t => scalarKey(t).map(_ -> t)).toMap
        val holds = inherited.forall { case (k, v) =>
          curByKey.get(k).exists(t => deepEq(t.getValueNode, v))
        }
        if (!holds) return rebuilt
        val withoutInherited = rebuilt.filterNot(t =>
          scalarKey(t).exists(k => inherited.contains(k)))
        val mergeValue: Node = mt.getValueNode match {
          case sq: SequenceNode =>
            new SequenceNode(sq.getTag,
              freshMaps.map(_.asInstanceOf[Node]).asJava, sq.getFlowStyle)
          case _ => freshMaps.head
        }
        // the original key node carries the merge tag and any comments
        val insertAt = math.min(omTuples.indexWhere(_ eq mt),
          withoutInherited.size)
        (withoutInherited.take(insertAt) :+
          new NodeTuple(mt.getKeyNode, mergeValue)) ++
          withoutInherited.drop(insertAt)
    }
  }

  /** A mapping's EFFECTIVE (key → value-node) entries with `<<`
    * merges expanded recursively: locals first-wins, then each merge
    * source's own effective entries in order (YAML merge precedence).
    * None on anything that can't be fully resolved — a non-mapping
    * merge source, or a cycle (guarded by identity, impossible in
    * YAML the composer accepts but cheap to refuse).
    */
  private def effectiveEntries(m: MappingNode,
      visiting: java.util.IdentityHashMap[Node, Node])
      : Option[Seq[(String, Node)]] = {
    if (visiting.containsKey(m)) return None
    visiting.put(m, m)
    try {
      val out = scala.collection.mutable.LinkedHashMap[String, Node]()
      var mergeSources: Seq[Node] = Nil
      m.getValue.asScala.foreach { t =>
        t.getKeyNode match {
          case s: ScalarNode
            if s.getTag.getValue == "tag:yaml.org,2002:merge" ||
              s.getValue == "<<" =>
            mergeSources = t.getValueNode match {
              case sq: SequenceNode => sq.getValue.asScala.toSeq
              case other => Seq(other)
            }
          case _ =>
            scalarKey(t).foreach { k =>
              if (!out.contains(k)) out(k) = t.getValueNode
            }
        }
      }
      val resolved = mergeSources.forall {
        case mm: MappingNode =>
          effectiveEntries(mm, visiting) match {
            case Some(es) =>
              es.foreach { case (k, v) =>
                if (!out.contains(k)) out(k) = v
              }
              true
            case None => false
          }
        case _ => false
      }
      if (resolved) Some(out.toSeq) else None
    } finally visiting.remove(m)
  }

  /** Dump with comments restored from `doc.source` (plain dump when
    * the doc never came from a file). Returns the text and the node
    * tree it was serialized from, which stands in for the tree a read
    * of that text would compose.
    */
  private def render(doc: YamlDoc): (String, Node) = {
    val data = toJava(doc.full)
    val yaml = newYaml()
    val tree = doc.source.flatMap { orig =>
      Option(yaml.compose(new StringReader(newYaml().dump(data)))).map { fresh =>
        graftComments(orig, fresh, new java.util.IdentityHashMap[Node, Node]())
        fresh
      }
    }.getOrElse(yaml.represent(data))
    val out = new StringWriter()
    yaml.serialize(tree, out)
    (out.toString, tree)
  }

  /** Atomic write: dump managed+preserved (comments grafted back from
    * the read-time tree), write to a unique temp file, validate
    * non-empty, ATOMIC_MOVE into place
    * (core/schema/writer.py:90-106,170-210).
    */
  def write(path: Path, doc: YamlDoc): Unit = {
    val cached = written(doc, writeFile(path, doc))
    cache.synchronized(cache.put(path, cached))
  }

  /** Renders and atomically writes `doc`; returns the node tree the
    * text was serialized from.
    */
  private def writeFile(path: Path, doc: YamlDoc): Node = {
    Option(path.getParent).foreach(Files.createDirectories(_))
    val (text, tree) = render(doc)
    val tmp = Files.createTempFile(path.getParent, s".${path.getFileName}", ".tmp")
    try {
      Files.writeString(tmp, text)
      if (Files.size(tmp) == 0 && text.nonEmpty)
        throw new IllegalStateException(s"validation failed writing $path")
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
    tree
  }

  /** The clean cache entry of a written doc: its source is the tree
    * just serialized, so comments sit at their grafted positions as
    * they do on disk.
    */
  private def written(doc: YamlDoc, tree: Node): CacheEntry =
    CacheEntry(doc.copy(source = Some(tree)), dirty = false)

  /** Paths of dirty (buffered, uncommitted) docs — the would-write
    * set a dry run reports instead of committing.
    */
  def pending(): Seq[Path] = cache.synchronized {
    cache.asScala.toSeq.collect { case (p, e) if e.dirty => p }.sorted
  }

  /** Commit all dirty buffered docs; returns the written paths. The
    * files are rendered and written concurrently on [[Parallel]]'s
    * pool, outside the cache lock. A doc buffered again while it was
    * being written stays dirty; a failed write leaves its entry dirty,
    * and the first failure, in the returned order, is rethrown once
    * every write has ended.
    */
  def commit(): Seq[Path] = {
    val dirty = cache.synchronized {
      cache.asScala.toSeq.collect { case (p, e) if e.dirty => p -> e }
    }
    val trees = Parallel.attempt(dirty) { case (p, e) => writeFile(p, e.doc) }
    cache.synchronized {
      dirty.zip(trees).foreach { case ((p, e), tree) =>
        if (tree.isSuccess && (cache.get(p) eq e)) cache.put(p, written(e.doc, tree.get))
      }
    }
    trees.foreach(_.get)
    dirty.map(_._1)
  }

  def invalidate(): Unit = cache.synchronized(cache.clear())
}
