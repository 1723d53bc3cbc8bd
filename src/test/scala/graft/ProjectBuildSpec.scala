package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.compile.{DbtCompiler, Jinja}
import graft.core.{EngineSettings, Inheritance, Introspection}
import graft.exec.ModelExecutor
import graft.project.ProjectLoader

/** End-to-end slice (SURVEY §7 phase 1): load the jaffle fixture
  * project, seed CSVs, compile Jinja models, build in topological
  * order, and validate results + metadata flow.
  */
class ProjectBuildSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session

  lazy val project: ProjectLoader.Project = ProjectLoader.load("fixtures/jaffle")
  lazy val executor: ModelExecutor = {
    // the warehouse-owned source relation exists before the build
    // (the executor would otherwise register an empty placeholder)
    import spark.implicits._
    Seq((1, "north"), (2, "south")).toDF("region_id", "region_name")
      .createOrReplaceTempView("region_lookup")
    val e = new ModelExecutor(spark, project)
    e.buildAll()
    e
  }

  test("loader discovers seeds, models, docs, and materializations") {
    val m = project.manifest
    assert(m.nodes.keySet.exists(_.startsWith("seed.jaffle.raw_customers")))
    val stg = m.nodes("model.jaffle.stg_customers")
    assert(stg.materialized == "view") // folder-scoped config
    assert(m.nodes("model.jaffle.customers").materialized == "table")
    assert(stg.columns("customer_id").description.contains("Unique identifier for a customer"))
    assert(stg.columns("customer_id").tags == Seq("pk"))
  }

  test("jinja for-loop pivot compiles and runs (orders model)") {
    executor // force build
    val orders = spark.table("orders")
    assert(orders.columns.contains("credit_card_amount"))
    assert(orders.count() == 10)
    import org.apache.spark.sql.functions._
    val total = orders.agg(sum("amount").cast("double")).collect()(0).getDouble(0)
    assert(math.abs(total - 174.0) < 1e-9) // 17400 cents / 100
  }

  test("versioned ref resolves v1 vs latest") {
    executor
    val compiledCustomers = executor.manifest.nodes("model.jaffle.customers")
    assert(compiledCustomers.compiledCode.get.contains("from stg_customers"))
    assert(!compiledCustomers.compiledCode.get.contains("stg_customers_v2"))
    // unversioned ref in a scratch query resolves to the latest (v2)
    val c = DbtCompiler.compile("select * from {{ ref('stg_customers') }}",
      executor.manifest, project.vars)
    assert(c.sql.contains("stg_customers_v2"))
  }

  test("customers model aggregates correctly end-to-end") {
    executor
    val row = spark.sql(
      """SELECT first_order, number_of_orders,
        |       CAST(customer_lifetime_value AS DOUBLE)
        |FROM customers WHERE customer_id = 1""".stripMargin).collect()(0)
    assert(row.get(0).toString == "2018-01-01")
    assert(row.getLong(1) == 3L)
    // orders 1,5,10 → payments 1000+1700+3000 cents = 57.0 dollars
    assert(math.abs(row.getDouble(2) - 57.0) < 1e-9)
  }

  test("partition_by lays the table out hive-partitioned and reads prune") {
    executor // force build
    import org.apache.spark.sql.functions.col
    val t = spark.table("payments_by_method")
    // physical layout: one directory per payment_method value
    assert(t.columns.contains("payment_method"))
    val pruned = t.filter(col("payment_method") === "credit_card")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("payment_method"),
      s"expected partition pruning in:\n${scan.take(900)}")
    assert(pruned.count() > 0)
    // partitioned layout must not change the relation's content
    assert(t.count() == spark.table("stg_payments").count())
  }

  test("file_format orc: table relation materializes and reads as ORC") {
    executor // force build
    val t = spark.table("payments_export")
    assert(t.count() == spark.table("stg_payments").count())
    val scan = t.queryExecution.executedPlan.toString
    assert(scan.toLowerCase.contains("orc"),
      s"expected an ORC scan for file_format='orc':\n${scan.take(600)}")
  }

  test("in-file config overrides and captures options") {
    val stgPayments = executor.manifest.nodes("model.jaffle.stg_payments")
    assert(stgPayments.materialized == "view")
    assert(stgPayments.config.get("dbt_osmosis_output_to_lower").contains(true))
  }

  test("versioned refs ignore names that only share the _v prefix") {
    val nodes = Seq("m", "m_v2", "m_vip", "m_v3x", "m.x_v9").map(n =>
      graft.core.NodeMeta(s"model.p.$n", n, "model"))
    val m = graft.core.Manifest(nodes)
    assert(DbtCompiler.resolveRef(m, "m", None).map(_.name).contains("m_v2"))
    assert(DbtCompiler.resolveRef(m, "m", Some(1)).map(_.name).contains("m"))
    assert(DbtCompiler.resolveRef(m, "m_vip", None).map(_.name).contains("m_vip"))
    assert(DbtCompiler.resolveRef(m, "m.x", None).map(_.name).contains("m.x_v9"))
    assert(DbtCompiler.resolveRef(m, "n", None).isEmpty)
  }

  test("a folder's +materialized: table builds its models as tables") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_plus_mat")
    def write(rel: String, s: String): Unit = {
      val p = root.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, s)
    }
    write("dbt_project.yml",
      """name: plusmat
        |version: '1'
        |models:
        |  plusmat:
        |    +materialized: view
        |    marts:
        |      +materialized: table
        |""".stripMargin)
    write("models/staging/plusmat_stg.sql", "select 1 as id")
    write("models/marts/plusmat_mart.sql", "select id from {{ ref('plusmat_stg') }}")
    val proj = ProjectLoader.load(root.toString)
    assert(proj.manifest.nodes("model.plusmat.plusmat_mart").materialized == "table")
    assert(proj.manifest.nodes("model.plusmat.plusmat_stg").materialized == "view")
    val tables = Files.createTempDirectory("graft_plus_mat_tables")
    new ModelExecutor(spark, proj, Some(tables.toString)).buildAll()
    assert(Files.isDirectory(tables.resolve("plusmat_mart")))
    assert(!Files.exists(tables.resolve("plusmat_stg")))
    assert(spark.table("plusmat_mart").collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("executeSql compiles ad-hoc jinja against the manifest") {
    executor
    val df = executor.executeSql(
      "select count(*) as n from {{ ref('stg_payments') }} where amount > {{ var('min_amount', 10) }}")
    assert(df.collect()(0).getLong(0) == 7L)
  }

  test("inheritance flows docs from staging into downstream models") {
    executor
    val settings = EngineSettings(addProgenitorToMeta = true)
    val customers = executor.manifest.nodes("model.jaffle.customers")
    val inherited = Inheritance.inheritUpstreamColumnKnowledge(
      executor.manifest, customers, settings)
    assert(inherited.columns("customer_id").description
      .contains("Unique identifier for a customer"))
    assert(inherited.columns("customer_id").meta("osmosis_progenitor")
      == "model.jaffle.stg_customers")
    assert(inherited.columns("customer_id").tags.contains("pk"))
  }

  test("source() resolves to the warehouse relation and records the dep") {
    executor
    val regions = spark.table("regions").orderBy("region_id").collect()
    assert(regions.map(_.getString(1)).toSeq == Seq("NORTH", "SOUTH"))
    val node = executor.manifest.nodes("model.jaffle.regions")
    assert(node.deps.contains("source.jaffle.warehouse.region_lookup"))
  }

  test("missing source relations get empty typed placeholders") {
    val freshSpark = spark.newSession()
    val p = ProjectLoader.load("fixtures/jaffle")
    val e = new ModelExecutor(freshSpark, p)
    e.buildAll() // no region_lookup registered in this session
    assert(freshSpark.table("regions").count() == 0)
    assert(freshSpark.table("regions").columns.toSeq == Seq("region_id", "region_name"))
  }

  test("jinja engine corner cases") {
    val env = Jinja.Env(vars = Map("xs" -> Seq("a", "b")))
    assert(Jinja.renderTemplate("{% for x in xs %}{{ x }}{% if not loop.last %},{% endif %}{% endfor %}", env) == "a,b")
    assert(Jinja.renderTemplate("{% set y = 2 + 3 %}{{ y }}", env) == "5")
    assert(Jinja.renderTemplate("{% if 'a' in xs %}yes{% else %}no{% endif %}", env) == "yes")
    assert(Jinja.renderTemplate("{{ 'up' ~ 'down' }}", env) == "updown")
    assert(Jinja.renderTemplate("{#- gone -#}x", env) == "x")
  }

  test("jinja macros: definitions, defaults, kwargs, and control flow in bodies") {
    val env = Jinja.Env()
    val t =
      """{% macro cents(col, precision=2) %}round({{ col }} / 100, {{ precision }}){% endmacro %}
        |SELECT {{ cents('amount') }}, {{ cents('fee', precision=4) }}""".stripMargin
    val out = Jinja.renderTemplate(t, env)
    assert(out.contains("round(amount / 100, 2)"))
    assert(out.contains("round(fee / 100, 4)"))
    // macro body may use loops over an argument
    val t2 = "{% macro cols(names) %}{% for n in names %}{{ n }}{% if not loop.last %}, {% endif %}{% endfor %}{% endmacro %}" +
      "select {{ cols(['a', 'b', 'c']) }}"
    assert(Jinja.renderTemplate(t2, env) == "select a, b, c")
    // missing required arg fails loud
    assertThrows[Jinja.JinjaError](
      Jinja.renderTemplate("{% macro m(x) %}{{ x }}{% endmacro %}{{ m() }}", env))
  }

  test("project macros/ dir is a global namespace for every model") {
    val root = java.nio.file.Files.createTempDirectory("graft_macros")
    java.nio.file.Files.createDirectories(root.resolve("models"))
    java.nio.file.Files.createDirectories(root.resolve("macros"))
    java.nio.file.Files.createDirectories(root.resolve("seeds"))
    java.nio.file.Files.writeString(root.resolve("dbt_project.yml"),
      "name: macrodemo\n")
    java.nio.file.Files.writeString(root.resolve("seeds/pay_seed.csv"),
      "id,amount_cents\n1,150\n2,250\n")
    java.nio.file.Files.writeString(root.resolve("macros/money.sql"),
      "{% macro cents_to_dollars(col) %}round({{ col }} / 100.0, 2){% endmacro %}\n")
    java.nio.file.Files.writeString(root.resolve("models/pay.sql"),
      "select id, {{ cents_to_dollars('amount_cents') }} as amount from {{ ref('pay_seed') }}\n")
    val e = new ModelExecutor(spark, ProjectLoader.load(root.toString))
    e.buildAll()
    val got = spark.table("pay").orderBy("id").collect()
      .map(r => (r.getInt(0), r.getDecimal(1).doubleValue)).toSeq
    assert(got == Seq(1 -> 1.5, 2 -> 2.5))
    // ad-hoc SQL sees project macros too
    assert(e.executeSql("select {{ cents_to_dollars('300') }} as d")
      .collect()(0).getDecimal(0).doubleValue == 3.0)
  }

  test("dbt-loom config injects exposed cross-project models (A1)") {
    import java.nio.file.Files
    def write(p: java.nio.file.Path, s: String): Unit = {
      Files.createDirectories(p.getParent); Files.writeString(p, s)
    }
    // upstream project: one public model, one protected, one unmarked
    val up = Files.createTempDirectory("graft_loom_up")
    write(up.resolve("dbt_project.yml"), "name: upstream\nversion: '1'\n")
    write(up.resolve("models/shared_dim.sql"), "select 1 as dim_id, 'x' as dim_name")
    write(up.resolve("models/internal_dim.sql"), "select 2 as dim_id")
    write(up.resolve("models/unmarked_dim.sql"), "select 3 as dim_id")
    write(up.resolve("models/schema.yml"),
      """models:
        |  - name: shared_dim
        |    access: public
        |    description: Upstream shared dimension
        |    columns:
        |      - name: dim_id
        |        description: Upstream dimension key
        |  - name: internal_dim
        |    access: protected
        |""".stripMargin)
    // downstream project refs the exposed upstream model via loom
    val down = Files.createTempDirectory("graft_loom_down")
    write(down.resolve("dbt_project.yml"), "name: downstream\nversion: '1'\n")
    write(down.resolve("models/uses_shared.sql"),
      "select dim_id from {{ ref('shared_dim') }}")
    write(down.resolve("dbt-loom.yml"),
      s"""manifests:
         |  - name: upstream
         |    type: file
         |    config:
         |      path: ${up.toString}
         |""".stripMargin)

    graft.core.YamlIO.invalidate()
    val proj = ProjectLoader.load(down.toString)
    // exposure gate: public in, protected out, unmarked (no access) out
    assert(proj.manifest.nodes.contains("model.upstream.shared_dim"))
    assert(!proj.manifest.nodes.contains("model.upstream.internal_dim"))
    assert(!proj.manifest.nodes.contains("model.upstream.unmarked_dim"))
    val injected = proj.manifest.nodes("model.upstream.shared_dim")
    assert(injected.isLoomInjected && injected.packageName == "upstream")
    // injected nodes are not transform candidates unless asked for
    val own = graft.core.NodeFilters.candidates(proj.manifest)
    assert(!own.exists(_.uniqueId == "model.upstream.shared_dim"))
    assert(graft.core.NodeFilters.candidates(proj.manifest,
      graft.core.NodeFilters.NodeFilter(includeExternal = true))
      .exists(_.uniqueId == "model.upstream.shared_dim"))
    // cross-project ref compiles against the injected node
    val c = DbtCompiler.compile("select * from {{ ref('shared_dim') }}",
      proj.manifest, proj.vars)
    assert(c.sql.contains("shared_dim"))
    // build plane: upstream builds its own relations, downstream's
    // buildAll skips the injected node but its model resolves through
    // the session relation the upstream build left behind
    new ModelExecutor(spark, ProjectLoader.load(up.toString)).buildAll()
    val e = new ModelExecutor(spark, proj)
    val built = e.buildAll()
    assert(!built.contains("model.upstream.shared_dim"),
      "loom-injected node must not be built by the downstream project")
    assert(spark.table("uses_shared").collect().map(_.getInt(0)).toSeq == Seq(1))
    // inheritance walks the external ancestor's docs
    val inherited = Inheritance.inheritUpstreamColumnKnowledge(
      e.manifest, e.manifest.nodes("model.downstream.uses_shared")
        .withColumns(Seq(graft.core.ColumnMeta("dim_id"))),
      EngineSettings())
    assert(inherited.columns("dim_id").description
      .contains("Upstream dimension key"))
  }

  test("explicit fusion-compat configuration is honored alongside detection (A3)") {
    import scala.collection.immutable.ListMap
    // fusion-compat: true in dbt-osmosis.yml enables the fusion
    // dialect even when no Fusion manifest was detected
    val root = java.nio.file.Files.createTempDirectory("graft_fusion")
    java.nio.file.Files.writeString(root.resolve("dbt-osmosis.yml"),
      "fusion-compat: true\n")
    graft.core.YamlIO.invalidate()
    val configured = ProjectLoader.Project("p", root,
      graft.core.Manifest(Seq.empty[graft.core.NodeMeta]), Map.empty, Map.empty,
      fusionManifest = false)
    assert(Cli.settingsFor(configured).fusionCompat,
      "fusion-compat: true in dbt-osmosis.yml silently ignored")
    // manifest detection alone still enables it
    val root2 = java.nio.file.Files.createTempDirectory("graft_fusion2")
    val detected = ProjectLoader.Project("p", root2,
      graft.core.Manifest(Seq.empty[graft.core.NodeMeta]), Map.empty, Map.empty,
      fusionManifest = true)
    assert(Cli.settingsFor(detected).fusionCompat)
    // and absent both, the dialect stays classic
    val neither = ProjectLoader.Project("p", root2,
      graft.core.Manifest(Seq.empty[graft.core.NodeMeta]), Map.empty, Map.empty,
      fusionManifest = false)
    assert(!Cli.settingsFor(neither).fusionCompat)
  }

  test("a ref resolves by name across manifest updates that rename or add nodes") {
    val m0 = graft.core.Manifest(Seq("a", "b", "b_v2").map(n =>
      graft.core.NodeMeta(s"model.p.$n", n, "model")))
    assert(DbtCompiler.resolveRef(m0, "b", None).map(_.name).contains("b_v2"))
    // same name: the updated node is found
    val m1 = m0.updated(m0.nodes("model.p.a").copy(rawCode = "select 1"))
    assert(DbtCompiler.resolveRef(m1, "a", None).map(_.rawCode).contains("select 1"))
    // renamed: found under the new name only
    val m2 = m1.updated(m1.nodes("model.p.b_v2").copy(name = "c"))
    assert(DbtCompiler.resolveRef(m2, "b", None).map(_.name).contains("b"))
    assert(DbtCompiler.resolveRef(m2, "c", None).map(_.uniqueId).contains("model.p.b_v2"))
    // added: a seed of the same name as a model keeps manifest order
    val m3 = m2.updated(graft.core.NodeMeta("seed.p.a", "a", "seed"))
    assert(m3.refCandidates("a").map(_.uniqueId) == Seq("model.p.a", "seed.p.a"))
    assert(DbtCompiler.resolveRef(m3, "a", None).map(_.uniqueId).contains("model.p.a"))
  }

  test("a rebuilt model is introspected with its new columns") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_rebuild")
    def write(rel: String, s: String): Unit = {
      val p = root.resolve(rel); Files.createDirectories(p.getParent); Files.writeString(p, s)
    }
    write("dbt_project.yml", "name: rebuild\nversion: '1'\n")
    write("models/rebuilt_m.sql", "select 1 as a")
    val settings = EngineSettings()
    new ModelExecutor(spark, ProjectLoader.load(root.toString)).buildAll()
    assert(Introspection.getColumns(spark, "rebuilt_m", settings).keys.toSeq == Seq("a"))
    write("models/rebuilt_m.sql", "select 1 as a, 'x' as b")
    new ModelExecutor(spark, ProjectLoader.load(root.toString)).buildAll()
    assert(Introspection.getColumns(spark, "rebuilt_m", settings).keys.toSeq == Seq("a", "b"))
  }
}
