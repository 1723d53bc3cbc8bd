package graft.core

import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap

import org.scalatest.funsuite.AnyFunSuite

/** Tests for the YAML plane: path templating, round-trip I/O with
  * preserved sections, node→YAML sync, restructuring, validation.
  */
class YamlPlaneSpec extends AnyFunSuite {

  def tmpRoot(): Path = Files.createTempDirectory("graft_yaml")

  val settings: EngineSettings = EngineSettings(
    vars = Map("dbt_osmosis_default_path" -> "{parent}/{model}.yml"))

  def model(name: String, path: String, cols: (String, String)*): NodeMeta =
    NodeMeta(s"model.p.$name", name, "model", schema = "analytics",
      path = path, columns = ListMap(cols.map { case (n, d) =>
        n -> ColumnMeta(n, description = Some(d).filter(_.nonEmpty))
      }: _*))

  test("path templating renders {model}/{parent}/{schema}/{node.*} vars") {
    val root = tmpRoot()
    val n = model("orders", "models/marts/orders.sql")
    assert(PathManagement.targetYamlPath(root, n, settings) ==
      root.resolve("models/marts/marts/orders.yml"))
    val s2 = EngineSettings(vars = Map(
      "dbt_osmosis_default_path" -> "/{node.schema}/{node.name}.yml"))
    assert(PathManagement.targetYamlPath(root, n, s2) ==
      root.resolve("models/analytics/orders.yml"))
  }

  test("path traversal outside the project root is rejected") {
    val root = tmpRoot()
    val n = model("orders", "models/orders.sql")
    val bad = EngineSettings(vars = Map(
      "dbt_osmosis_default_path" -> "/../../../etc/{model}.yml"))
    assertThrows[PathManagement.PathResolutionError](
      PathManagement.targetYamlPath(root, n, bad))
  }

  test("vars routing: most-specific folder wins, seeds string/dict, kebab preferred") {
    def m(fqn: String*) = NodeMeta("model.p.x", "x", "model", fqn = fqn)
    val routing = EngineSettings(vars = Map("dbt-osmosis" -> Map(
      "models" -> Map(
        "staging" -> "_stg_{parent}__models.yml",
        "staging.oem_raw" -> "_stg_oem__models.yml",
        "intermediate" -> "_int__models.yml"),
      "seeds" -> "_seeds__models.yml")))
    // deepest folder path matches before its parent
    assert(PathManagement.resolveVarsRouting(routing,
      m("p", "staging", "oem_raw", "stg_x")) == Some("_stg_oem__models.yml"))
    // unmatched subfolder falls back to the parent entry
    assert(PathManagement.resolveVarsRouting(routing,
      m("p", "staging", "other", "stg_y")) == Some("_stg_{parent}__models.yml"))
    assert(PathManagement.resolveVarsRouting(routing,
      m("p", "intermediate", "int_z")) == Some("_int__models.yml"))
    // no folder entry / model at project root (no folders at all)
    assert(PathManagement.resolveVarsRouting(routing, m("p", "marts", "dim")).isEmpty)
    assert(PathManagement.resolveVarsRouting(routing, m("p", "root_model")).isEmpty)
    // seeds: string applies to every seed; models routing never leaks to seeds
    val seed = NodeMeta("seed.p.s", "s", "seed", fqn = Seq("p", "data", "s"))
    assert(PathManagement.resolveVarsRouting(routing, seed) == Some("_seeds__models.yml"))
    // seeds: per-folder dict form (underscore section variant)
    val perFolder = EngineSettings(vars = Map("dbt_osmosis" -> Map(
      "seeds" -> Map("data" -> "_d.yml"))))
    assert(PathManagement.resolveVarsRouting(perFolder, seed) == Some("_d.yml"))
    assert(PathManagement.resolveVarsRouting(perFolder, m("p", "data", "x")).isEmpty)
    // kebab section shadows the underscore one entirely
    val both = EngineSettings(vars = Map(
      "dbt-osmosis" -> Map("models" -> Map("staging" -> "kebab.yml")),
      "dbt_osmosis" -> Map("models" -> Map("staging" -> "underscore.yml"))))
    assert(PathManagement.resolveVarsRouting(both,
      m("p", "staging", "x")) == Some("kebab.yml"))
    // no osmosis vars at all
    assert(PathManagement.resolveVarsRouting(EngineSettings(), m("p", "staging", "x")).isEmpty)
  }

  test("pathTemplate priority: node config > vars routing > global default; sources from definitions") {
    val routed = EngineSettings(vars = Map(
      "dbt-osmosis" -> Map("models" -> Map("staging" -> "routed.yml")),
      "dbt_osmosis_default_path" -> "default.yml"))
    val plain = NodeMeta("model.p.x", "x", "model", fqn = Seq("p", "staging", "x"))
    assert(PathManagement.pathTemplate(plain, routed) == Some("routed.yml"))
    // node-level config wins over vars routing
    val configured = plain.copy(meta = Map("dbt-osmosis" -> "from_meta.yml"))
    assert(PathManagement.pathTemplate(configured, routed) == Some("from_meta.yml"))
    // nothing routed -> global default var
    val martNode = plain.copy(fqn = Seq("p", "marts", "x"))
    assert(PathManagement.pathTemplate(martNode, routed) == Some("default.yml"))
    // sources resolve ONLY from vars.dbt-osmosis.sources ({path: ...} or string)
    val src = NodeMeta("source.p.raw.tbl", "tbl", "source",
      schema = "rawschema", fqn = Seq("p", "raw", "tbl"))
    val defs = EngineSettings(vars = Map("dbt-osmosis" -> Map(
      "sources" -> Map("raw" -> Map("path" -> "sources/raw.yml")))))
    assert(PathManagement.pathTemplate(src, defs) == Some("sources/raw.yml"))
    val defsStr = EngineSettings(vars = Map("dbt-osmosis" -> Map(
      "sources" -> Map("raw" -> "srcs/{parent}.yml"))))
    assert(PathManagement.pathTemplate(src, defsStr) == Some("srcs/{parent}.yml"))
    assert(PathManagement.pathTemplate(src, routed).isEmpty)
  }

  test("yaml round-trip preserves unmanaged top-level sections") {
    val root = tmpRoot()
    val p = root.resolve("schema.yml")
    Files.writeString(p,
      """version: 2
        |x-custom-anchor:
        |  owner: data-team
        |models:
        |  - name: orders
        |    columns:
        |      - name: order_id
        |        description: Order PK
        |""".stripMargin)
    val doc = YamlIO.read(p)
    assert(doc.preserved.contains("x-custom-anchor"))
    YamlIO.write(p, doc)
    val text = Files.readString(p)
    assert(text.contains("x-custom-anchor"))
    assert(text.contains("owner: data-team"))
    assert(text.contains("Order PK"))
  }

  test("comments inside managed sections survive an edit+write (A32)") {
    val root = tmpRoot()
    val p = root.resolve("schema.yml")
    Files.writeString(p,
      """# file header: owned by the data team
        |version: 2
        |models:
        |  # our flagship mart
        |  - name: orders
        |    description: All orders  # keep in sync with the wiki
        |    columns:
        |      # the grain of the table
        |      - name: order_id
        |        description: Order PK
        |      - name: doomed
        |        description: about to be deleted
        |""".stripMargin)
    YamlIO.invalidate()
    val doc = YamlIO.read(p)
    // edit INSIDE the managed section: add a column, drop another
    val models = doc.managed("models").asInstanceOf[Seq[Map[String, Any]]]
    val m0 = models.head
    val cols = m0("columns").asInstanceOf[Seq[Map[String, Any]]]
      .filterNot(_("name") == "doomed") :+
      Map[String, Any]("name" -> "amount", "description" -> "Order amount")
    val updated = doc.copy(managed =
      doc.managed.updated("models", Seq(m0.updated("columns", cols))))
    YamlIO.write(p, updated)
    val text = Files.readString(p)
    // comments anchored to surviving nodes stay, through a real edit
    assert(text.contains("# file header: owned by the data team"))
    assert(text.contains("# our flagship mart"))
    assert(text.contains("# keep in sync with the wiki"))
    assert(text.contains("# the grain of the table"))
    // the edit itself landed
    assert(text.contains("amount") && !text.contains("doomed"))
    // and the file still parses to the edited structure
    YamlIO.invalidate()
    val again = YamlIO.read(p)
    val cols2 = again.managed("models").asInstanceOf[Seq[Map[String, Any]]]
      .head("columns").asInstanceOf[Seq[Map[String, Any]]]
    assert(cols2.map(_("name")) == Seq("order_id", "amount"))
  }

  test("a written doc read back from the cache writes the same bytes as one " +
      "read from disk, comments kept") {
    val root = tmpRoot()
    val p = root.resolve("schema.yml")
    Files.writeString(p,
      """# header comment
        |version: 2
        |x-defaults: &owner_meta
        |  owner: data-team
        |models:
        |  # flagship
        |  - name: orders
        |    meta: *owner_meta
        |    description: All orders  # inline note
        |    columns:
        |      # grain
        |      - name: order_id
        |        description: Order PK
        |  - name: customers
        |    meta:
        |      <<: *owner_meta
        |      tier: gold
        |""".stripMargin)
    YamlIO.invalidate()
    val doc = YamlIO.read(p)
    val models = doc.managed("models").asInstanceOf[Seq[Map[String, Any]]]
    val cols = models.head("columns").asInstanceOf[Seq[Map[String, Any]]] :+
      Map[String, Any]("name" -> "amount", "description" -> "Order amount")
    YamlIO.write(p, doc.copy(managed = doc.managed.updated("models",
      models.head.updated("columns", cols) +: models.tail)))
    val first = Files.readString(p)
    // second write from the cached doc, third from a fresh disk read
    YamlIO.write(p, YamlIO.read(p))
    val fromCache = Files.readString(p)
    YamlIO.invalidate()
    YamlIO.write(p, YamlIO.read(p))
    val fromDisk = Files.readString(p)
    assert(fromCache == first)
    assert(fromDisk == first)
    for (c <- Seq("# header comment", "# flagship", "# inline note", "# grain",
        "&owner_meta", "*owner_meta", "<<: *owner_meta"))
      assert(first.contains(c), s"lost `$c`:\n$first")
    // a doc built in memory round-trips the same way
    val q = root.resolve("fresh.yml")
    YamlIO.write(q, YamlIO.YamlDoc(ListMap("version" -> 2,
      "models" -> Seq(ListMap("name" -> "m", "description" -> "d"))), ListMap.empty))
    val built = Files.readString(q)
    YamlIO.write(q, YamlIO.read(q))
    assert(Files.readString(q) == built)
  }

  test("anchors and aliases survive an unchanged round-trip byte-for-byte (A32)") {
    val root = tmpRoot()
    val p = root.resolve("schema.yml")
    // canonical dumper style (2-space indent, block, dash at column 0)
    // so the only question the byte-compare asks is whether &/* survive
    val original =
      """version: 2
        |x-defaults: &owner_meta
        |  owner: data-team
        |  tier: gold
        |models:
        |- name: orders
        |  meta: *owner_meta
        |  columns:
        |  - name: order_id
        |    description: Order PK
        |- name: customers
        |  meta: *owner_meta
        |""".stripMargin
    Files.writeString(p, original)
    YamlIO.invalidate()
    YamlIO.write(p, YamlIO.read(p))
    assert(Files.readString(p) == original,
      s"anchored file did not survive byte-for-byte:\n${Files.readString(p)}")
    // and the re-read still resolves the alias content at both sites
    YamlIO.invalidate()
    val again = YamlIO.read(p)
    val models = again.managed("models").asInstanceOf[Seq[Map[String, Any]]]
    assert(models.forall(_("meta").asInstanceOf[Map[String, Any]]("owner")
      == "data-team"))
  }

  test("an alias site the edit diverged materializes; the intact one keeps " +
      "its alias (A32)") {
    val root = tmpRoot()
    val p = root.resolve("schema.yml")
    Files.writeString(p,
      """version: 2
        |x-defaults: &owner_meta
        |  owner: data-team
        |models:
        |- name: orders
        |  meta: *owner_meta
        |- name: customers
        |  meta: *owner_meta
        |""".stripMargin)
    YamlIO.invalidate()
    val doc = YamlIO.read(p)
    val models = doc.managed("models").asInstanceOf[Seq[Map[String, Any]]]
    // orders takes a DIFFERENT owner; customers keeps the shared one
    val edited = models.map { m =>
      if (m("name") == "orders")
        m.updated("meta", Map("owner" -> "orders-team"))
      else m
    }
    YamlIO.write(p, doc.copy(managed = doc.managed.updated("models", edited)))
    val text = Files.readString(p)
    assert(text.contains("*owner_meta"),
      s"intact alias site lost its alias:\n$text")
    assert(text.contains("owner: orders-team"),
      s"diverged site lost its edit:\n$text")
    YamlIO.invalidate()
    val again = YamlIO.read(p)
    val m2 = again.managed("models").asInstanceOf[Seq[Map[String, Any]]]
      .map(m => m("name") -> m("meta").asInstanceOf[Map[String, Any]]("owner"))
      .toMap
    assert(m2 == Map("orders" -> "orders-team", "customers" -> "data-team"))
  }

  test("duplicate identical same-named list items do not grow invented " +
      "anchors on round-trip (A32)") {
    val root = tmpRoot()
    val p = root.resolve("schema.yml")
    // two verbatim-identical entries named x: the by-name comment
    // graft maps both onto one original node, but only GENUINE anchor
    // sharing (an anchor name from the composer) may re-link them
    val original =
      """version: 2
        |models:
        |- name: x
        |  description: same
        |- name: x
        |  description: same
        |""".stripMargin
    Files.writeString(p, original)
    YamlIO.invalidate()
    YamlIO.write(p, YamlIO.read(p))
    val text = Files.readString(p)
    assert(!text.contains("&") && !text.contains("*"),
      s"round-trip invented an anchor/alias pair:\n$text")
    assert(text == original, s"duplicate items not preserved:\n$text")
  }

  test("inert anchors and << merge keys survive an unchanged round-trip " +
      "byte-for-byte (A32)") {
    val root = tmpRoot()
    val p = root.resolve("schema.yml")
    // canonical dumper style; the anchor lives in a PRESERVED section
    // and the merge site in the MANAGED one — the partition boundary
    // is exactly where a naive reserialize would lose them
    val original =
      """version: 2
        |x-defaults: &cfg
        |  owner: data-team
        |  tier: gold
        |x-unused: &lonely 42
        |models:
        |- name: orders
        |  meta:
        |    <<: *cfg
        |    tier: silver
        |- name: customers
        |  meta:
        |    <<: *cfg
        |""".stripMargin
    Files.writeString(p, original)
    YamlIO.invalidate()
    YamlIO.write(p, YamlIO.read(p))
    assert(Files.readString(p) == original,
      s"inert anchor / merge keys did not survive:\n${Files.readString(p)}")
    // the re-read still flattens the merge with local override winning
    YamlIO.invalidate()
    val again = YamlIO.read(p)
    val metas = again.managed("models").asInstanceOf[Seq[Map[String, Any]]]
      .map(m => m("name") -> m("meta").asInstanceOf[Map[String, Any]]).toMap
    assert(metas("orders") == Map("owner" -> "data-team", "tier" -> "silver"))
    assert(metas("customers") == Map("owner" -> "data-team", "tier" -> "gold"))
  }

  test("a merge whose inherited value the edit diverged materializes; the " +
      "intact merge holds (A32)") {
    val root = tmpRoot()
    val p = root.resolve("schema.yml")
    Files.writeString(p,
      """version: 2
        |x-defaults: &cfg
        |  owner: data-team
        |  tier: gold
        |models:
        |- name: orders
        |  meta:
        |    <<: *cfg
        |- name: customers
        |  meta:
        |    <<: *cfg
        |""".stripMargin)
    YamlIO.invalidate()
    val doc = YamlIO.read(p)
    val models = doc.managed("models").asInstanceOf[Seq[Map[String, Any]]]
    // orders overrides an INHERITED key post-load: the merge no longer
    // holds there and must flatten; customers' merge is intact
    val edited = models.map { m =>
      if (m("name") == "orders")
        m.updated("meta",
          m("meta").asInstanceOf[Map[String, Any]].updated("owner", "orders-team"))
      else m
    }
    YamlIO.write(p, doc.copy(managed = doc.managed.updated("models", edited)))
    val text = Files.readString(p)
    assert(text.contains("owner: orders-team"), s"edit lost:\n$text")
    // exactly one merge site left (customers), and orders' mapping is
    // fully materialized
    assert(text.linesIterator.count(_.trim == "<<: *cfg") == 1,
      s"merge sites wrong:\n$text")
    YamlIO.invalidate()
    val again = YamlIO.read(p)
    val metas = again.managed("models").asInstanceOf[Seq[Map[String, Any]]]
      .map(m => m("name") -> m("meta").asInstanceOf[Map[String, Any]]).toMap
    assert(metas("orders") == Map("owner" -> "orders-team", "tier" -> "gold"))
    assert(metas("customers") == Map("owner" -> "data-team", "tier" -> "gold"))
  }

  test("chained << merge keys (anchor body merging another anchor) " +
      "round-trip byte-for-byte (A32 residual closed)") {
    val root = tmpRoot()
    val p = root.resolve("schema.yml")
    // two-level chain: mid inherits from base, the leaf meta inherits
    // from mid — the flatten sees {a,b,c}; the rewrite must re-instate
    // BOTH merge sites, the inner one inside the anchor body
    val original =
      """version: 2
        |x-base: &base
        |  owner: data-team
        |  retention: 30
        |x-mid: &mid
        |  <<: *base
        |  tier: gold
        |models:
        |- name: orders
        |  meta:
        |    <<: *mid
        |    tier: silver
        |""".stripMargin
    Files.writeString(p, original)
    YamlIO.invalidate()
    YamlIO.write(p, YamlIO.read(p))
    assert(Files.readString(p) == original,
      s"chained merge did not survive:\n${Files.readString(p)}")
    // the re-read still flattens the chain with precedence intact:
    // leaf local > mid > base
    YamlIO.invalidate()
    val again = YamlIO.read(p)
    val meta = again.managed("models").asInstanceOf[Seq[Map[String, Any]]]
      .head("meta").asInstanceOf[Map[String, Any]]
    assert(meta == Map("owner" -> "data-team", "retention" -> 30,
      "tier" -> "silver"), s"chain flatten wrong: $meta")
  }

  test("sequence-of-aliases merge (<<: [*a, *b]) round-trips with " +
      "first-wins precedence (A32)") {
    val root = tmpRoot()
    val p = root.resolve("schema.yml")
    val original =
      """version: 2
        |x-one: &one
        |  owner: team-one
        |  tier: gold
        |x-two: &two
        |  tier: silver
        |  region: eu
        |models:
        |- name: orders
        |  meta:
        |    <<: [*one, *two]
        |    local: v
        |""".stripMargin
    Files.writeString(p, original)
    YamlIO.invalidate()
    YamlIO.write(p, YamlIO.read(p))
    assert(Files.readString(p) == original,
      s"sequence merge did not survive:\n${Files.readString(p)}")
    YamlIO.invalidate()
    val meta = YamlIO.read(p).managed("models")
      .asInstanceOf[Seq[Map[String, Any]]].head("meta")
      .asInstanceOf[Map[String, Any]]
    assert(meta == Map("owner" -> "team-one", "tier" -> "gold",
      "region" -> "eu", "local" -> "v"))
  }

  test("comments follow a reordered list item by its name (A32)") {
    val root = tmpRoot()
    val p = root.resolve("schema.yml")
    Files.writeString(p,
      """version: 2
        |models:
        |  - name: alpha
        |    description: first
        |  # beta is the important one
        |  - name: beta
        |    description: second
        |""".stripMargin)
    YamlIO.invalidate()
    val doc = YamlIO.read(p)
    val models = doc.managed("models").asInstanceOf[Seq[Map[String, Any]]]
    YamlIO.write(p, doc.copy(managed =
      doc.managed.updated("models", models.reverse)))
    val text = Files.readString(p)
    val betaComment = text.linesIterator.indexWhere(
      _.contains("# beta is the important one"))
    val betaItem = text.linesIterator.indexWhere(_.contains("name: beta"))
    assert(betaComment >= 0 && betaItem == betaComment + 1,
      s"comment must ride with beta after the reorder:\n$text")
  }

  test("sync merges node columns into yaml, preserving jinja docs and extra keys") {
    val root = tmpRoot()
    val p = root.resolve("orders.yml")
    Files.writeString(p,
      """version: 2
        |models:
        |  - name: orders
        |    columns:
        |      - name: order_id
        |        description: '{{ doc("order_id_doc") }}'
        |        tests: [unique]
        |""".stripMargin)
    YamlIO.invalidate()
    val n = model("orders", "models/orders.sql",
      "order_id" -> "Rendered description", "amount" -> "Order amount")
    val doc = SyncOperations.syncNodeToDoc(YamlIO.read(p), n)
    val models = doc.managed("models").asInstanceOf[Seq[Map[String, Any]]]
    val cols = models.head("columns").asInstanceOf[Seq[Map[String, Any]]]
    val orderId = cols.find(_("name") == "order_id").get
    assert(orderId("description").toString.contains("{{ doc(")) // jinja preserved
    assert(orderId("tests") == Seq("unique")) // unmanaged key kept
    assert(cols.exists(c => c("name") == "amount" &&
      c("description") == "Order amount"))
  }

  test("sync fails closed on duplicate entries") {
    val root = tmpRoot()
    val p = root.resolve("dup.yml")
    Files.writeString(p,
      """models:
        |  - name: orders
        |  - name: orders
        |""".stripMargin)
    YamlIO.invalidate()
    assertThrows[SyncOperations.DuplicateEntryError](
      SyncOperations.syncNodeToDoc(YamlIO.read(p), model("orders", "models/orders.sql")))
  }

  test("versioned model syncs columns into its versions[] block, not the parent") {
    val root = tmpRoot()
    val p = root.resolve("stg_customers.yml")
    Files.writeString(p,
      """version: 2
        |models:
        |  - name: stg_customers
        |    description: parent block
        |    versions:
        |      - v: 1
        |        columns:
        |          - name: customer_id
        |            description: v1 doc
        |""".stripMargin)
    YamlIO.invalidate()
    val n = model("stg_customers", "models/stg_customers_v2.sql",
      "id" -> "v2 id doc").copy(version = Some(2), latestVersion = Some(2))
    val doc = SyncOperations.syncNodeToDoc(YamlIO.read(p), n)
    val entry = doc.managed("models").asInstanceOf[Seq[Map[String, Any]]].head
    assert(entry("latest_version") == 2)
    val versions = entry("versions").asInstanceOf[Seq[Map[String, Any]]]
    assert(versions.map(_("v")) == Seq(1, 2))
    // v1 untouched, v2 created with the node's columns
    val v1cols = versions.head("columns").asInstanceOf[Seq[Map[String, Any]]]
    assert(v1cols.head("description") == "v1 doc")
    val v2cols = versions(1)("columns").asInstanceOf[Seq[Map[String, Any]]]
    assert(v2cols.map(_("name")) == Seq("id"))
    assert(v2cols.head("description") == "v2 id doc")
    // parent columns/description untouched
    assert(entry("description") == "parent block")
    assert(!entry.contains("columns"))
  }

  test("versioned sync matches v across representations and keeps selectors first") {
    val root = tmpRoot()
    val p = root.resolve("m.yml")
    Files.writeString(p,
      """version: 2
        |models:
        |  - name: m
        |    latest_version: 2
        |    versions:
        |      - v: "2"
        |        columns:
        |          - include: '*'
        |            exclude: [internal_note]
        |          - name: old_col
        |            description: keep me merged
        |""".stripMargin)
    YamlIO.invalidate()
    // node version 2 (int) must land in the v: "2" (string) block —
    // numeric equivalence via the reference's raw/normalized matching
    val n = model("m", "models/m_v2.sql", "old_col" -> "synced")
      .copy(version = Some(2))
    val doc = SyncOperations.syncNodeToDoc(YamlIO.read(p), n)
    val entry = doc.managed("models").asInstanceOf[Seq[Map[String, Any]]].head
    val versions = entry("versions").asInstanceOf[Seq[Map[String, Any]]]
    assert(versions.size == 1, "must reuse the existing block, not append")
    val cols = versions.head("columns").asInstanceOf[Seq[Map[String, Any]]]
    assert(cols.head == Map("include" -> "*", "exclude" -> Seq("internal_note")),
      "include/exclude selector entry preserved at the front")
    assert(cols(1)("name") == "old_col" && cols(1)("description") == "synced")
    // latest_version untouched when the node doesn't carry one
    assert(entry("latest_version") == 2)
  }

  test("duplicate version entries fail closed") {
    val root = tmpRoot()
    val p = root.resolve("dupv.yml")
    Files.writeString(p,
      """models:
        |  - name: m
        |    versions:
        |      - v: 2
        |        description: first
        |      - v: 2.0
        |        description: second
        |""".stripMargin)
    YamlIO.invalidate()
    assertThrows[SyncOperations.DuplicateEntryError](
      SyncOperations.syncNodeToDoc(YamlIO.read(p),
        model("m", "models/m_v2.sql").copy(version = Some(2))))
  }

  test("version value matching: raw, numeric-fallback, and string identity") {
    import SyncOperations.versionValuesMatch
    assert(versionValuesMatch(2, 2))
    assert(versionValuesMatch(2, "2"))       // raw forms equal
    assert(versionValuesMatch(2, 2.0))       // numeric fallback
    assert(!versionValuesMatch("v1", "v1.0")) // both strings, raw differs
    assert(!versionValuesMatch(2, "02"))     // string side not canonical
    assert(!versionValuesMatch(true, 1))     // booleans have no identity
    assert(!versionValuesMatch(null, null))
  }

  test("fusion manifest detection reads the schema version header") {
    import graft.project.ProjectLoader
    val root = tmpRoot()
    assert(!ProjectLoader.detectFusionManifest(root)) // no manifest
    Files.createDirectories(root.resolve("target"))
    def write(schema: String): Unit = Files.writeString(
      root.resolve("target/manifest.json"),
      s"""{"metadata": {"dbt_schema_version": "$schema", "adapter_type": "spark"}}""")
    write("https://schemas.getdbt.com/dbt/manifest/v12.json")
    assert(!ProjectLoader.detectFusionManifest(root)) // dbt-core v12
    write("https://schemas.getdbt.com/dbt/manifest/v20.json")
    assert(ProjectLoader.detectFusionManifest(root)) // Fusion evidence
    write("https://schemas.getdbt.com/dbt/manifest/v21.json")
    assert(!ProjectLoader.detectFusionManifest(root)) // unknown newer
    Files.writeString(root.resolve("target/manifest.json"), "not json at all")
    assert(!ProjectLoader.detectFusionManifest(root))
  }

  test("fusion dialect nests column meta/tags inside config; classic lifts them") {
    val col = ColumnMeta("c", meta = ListMap("pii" -> true), tags = Seq("gold"))
    val existing = Map[String, Any](
      "name" -> "c", "config" -> Map[String, Any]("meta" -> Map("owner" -> "core")))
    val fusion = SyncOperations.mergeColumn(existing, col, fusionCompat = true)
    assert(!fusion.contains("meta") && !fusion.contains("tags"))
    val cfg = fusion("config").asInstanceOf[Map[String, Any]]
    assert(cfg("meta") == Map("owner" -> "core", "pii" -> true))
    assert(cfg("tags") == Seq("gold"))
    val classic = SyncOperations.mergeColumn(existing, col, fusionCompat = false)
    assert(classic("meta") == Map("owner" -> "core", "pii" -> true))
    assert(classic("tags") == Seq("gold"))
    assert(!classic.contains("config")) // wrapper stripped after lifting
  }

  test("source sync nests under sources[].tables[]") {
    val n = NodeMeta("source.p.raw.events", "events", "source",
      schema = "raw", fqn = Seq("p", "raw", "events"),
      columns = ListMap("ts" -> ColumnMeta("ts", Some("Event time"))))
    val doc = SyncOperations.syncNodeToDoc(
      YamlIO.YamlDoc(ListMap.empty, ListMap.empty), n)
    val sources = doc.managed("sources").asInstanceOf[Seq[Map[String, Any]]]
    assert(sources.head("name") == "raw")
    val tables = sources.head("tables").asInstanceOf[Seq[Map[String, Any]]]
    assert(tables.head("name") == "events")
  }

  test("restructure moves entries to their target files and empties old ones") {
    val root = tmpRoot()
    Files.createDirectories(root.resolve("models/marts"))
    val oldFile = root.resolve("models/all.yml")
    Files.writeString(oldFile,
      """version: 2
        |models:
        |  - name: orders
        |    description: The orders model
        |""".stripMargin)
    YamlIO.invalidate()
    val n = model("orders", "models/marts/orders.sql")
      .copy(patchPath = Some("models/all.yml"), description = "The orders model")
    val manifest = Manifest(Seq(n))
    val plan = Restructuring.draftPlan(root, manifest, settings)
    assert(!plan.isEmpty)
    assert(plan.ops.head.targetFile == root.resolve("models/marts/marts/orders.yml"))
    val (updated, touched) = Restructuring.applyPlan(root, plan, manifest, settings)
    assert(Files.exists(root.resolve("models/marts/marts/orders.yml")))
    // the touched set reports the target AND the stripped old file
    assert(touched.contains(root.resolve("models/marts/marts/orders.yml")))
    assert(touched.exists(_.endsWith("all.yml")),
      "stripped old files must be reported")
    val moved = Files.readString(root.resolve("models/marts/marts/orders.yml"))
    assert(moved.contains("name: orders"))
    assert(!Files.exists(oldFile) ||
      !Files.readString(oldFile).contains("name: orders"))
    assert(updated.get("model.p.orders").get.patchPath
      .contains("models/marts/marts/orders.yml"))
  }

  test("missing-source bootstrap introspects live tables into source YAML") {
    val spark = graft.TestSpark.session
    graft.Tables.registerAll(spark, "/root/testdata/sf0.001")
    val root = tmpRoot()
    Files.createDirectories(root.resolve("models"))
    YamlIO.invalidate()
    val s = EngineSettings(vars = Map("dbt-osmosis" -> Map(
      "sources" -> Map("raw" -> "staging/raw"))))
    assert(SourceBootstrap.declaredSources(s) == Map("raw" -> "staging/raw"))
    val (m2, touched) = SourceBootstrap.createMissingSources(
      spark, root, Manifest(Seq.empty[NodeMeta]), s,
      tablesForSource = _ => Seq("nation", "region"))
    assert(m2.get("source.project.raw.nation").isDefined)
    assert(m2.get("source.project.raw.nation").get.columns.contains("n_name"))
    assert(touched.map(_.getFileName.toString) == Seq("raw.yml"))
    val written = Files.readString(root.resolve("models/staging/raw.yml"))
    assert(written.contains("name: raw") && written.contains("name: nation") &&
      written.contains("name: region") && written.contains("n_nationkey"))
    // idempotent: a second run creates nothing new
    val (m3, touched2) = SourceBootstrap.createMissingSources(
      spark, root, m2, s, tablesForSource = _ => Seq("nation", "region"))
    assert(touched2.isEmpty && m3.nodes.size == m2.nodes.size)
  }

  test("catalog generation snapshots relation schemas in order") {
    val spark = graft.TestSpark.session
    graft.Tables.registerAll(spark, "/root/testdata/sf0.001")
    val cat = Introspection.generateCatalog(spark, Seq("region", "nation"),
      EngineSettings())
    assert(cat.keySet == Set("region", "nation"))
    val region = cat("region").sortBy(_.index)
    assert(region.map(_.name) == Seq("r_regionkey", "r_name"))
    assert(region.head.dataType.nonEmpty)
    assert(cat("nation").sortBy(_.index).map(_.name).take(2) ==
      Seq("n_nationkey", "n_name"))
  }

  test("validation passes resolvable SQL and fails unresolvable columns") {
    val spark = graft.TestSpark.session
    graft.Tables.registerAll(spark, "/root/testdata/sf0.001")
    assert(Validation.validateSql(spark, "SELECT o_orderkey FROM orders").isEmpty)
    val err = Validation.validateSql(spark, "SELECT no_such_col FROM orders")
    assert(err.exists(_.contains("no_such_col")))
  }

  test("concurrent reads and buffers on distinct files commit every edit once, " +
      "with the bytes of a sequential run") {
    val files = (0 until 40).map(i => s"models/m$i/schema.yml")
    def project(): Path = {
      val root = tmpRoot()
      files.zipWithIndex.foreach { case (f, i) =>
        val p = root.resolve(f)
        Files.createDirectories(p.getParent)
        Files.writeString(p,
          s"""# file $i
             |version: 2
             |models:
             |  - name: m$i  # inline
             |    columns:
             |      - name: id
             |""".stripMargin)
      }
      root
    }
    def edit(doc: YamlIO.YamlDoc, i: Int): YamlIO.YamlDoc = {
      val models = doc.managed("models").asInstanceOf[Seq[Map[String, Any]]]
      doc.copy(managed = doc.managed.updated("models",
        models.map(_.updated("description", s"model $i"))))
    }
    val sequential = project()
    YamlIO.invalidate()
    files.zipWithIndex.foreach { case (f, i) =>
      val p = sequential.resolve(f)
      YamlIO.write(p, edit(YamlIO.read(p), i))
    }
    val concurrent = project()
    YamlIO.invalidate()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = files.zipWithIndex.map { case (f, i) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val p = concurrent.resolve(f)
            YamlIO.buffer(p, edit(YamlIO.read(p), i))
          }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    val written = YamlIO.commit()
    assert(written.sorted == files.map(concurrent.resolve).sorted)
    assert(YamlIO.pending().isEmpty)
    assert(YamlIO.commit().isEmpty)
    for (f <- files)
      assert(Files.readString(concurrent.resolve(f)) == Files.readString(sequential.resolve(f)), f)
    assert(Files.readString(concurrent.resolve(files(3))).contains("# inline"))
  }
}
