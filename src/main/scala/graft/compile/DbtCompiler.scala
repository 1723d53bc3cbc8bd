package graft.compile

import scala.collection.mutable

import graft.core.{Manifest, NodeMeta}

/** dbt-style SQL compilation (A34): render the Jinja template with
  * `ref`/`source`/`var`/`env_var`/`config` bound against the manifest,
  * producing executable Spark SQL plus the captured in-file config.
  *
  * The reference registers a temp manifest node and runs dbt's
  * SqlCompileRunner (core/sql_operations.py:27-57); here ref
  * resolution is a direct manifest lookup and the output feeds
  * `spark.sql`.
  */
object DbtCompiler {

  final case class Compiled(
      sql: String,
      config: Map[String, Any],
      refs: Seq[String],
      sources: Seq[(String, String)])

  /** Resolve a ref target to the relation (temp view) name. Versioned
    * refs: `ref('m', v=N)` → the vN node; plain `ref('m')` → the
    * latest version (reference version equivalence semantics,
    * core/inheritance.py:136-258 — "1" == 1 == 1.0).
    */
  def resolveRef(manifest: Manifest, name: String, version: Option[Any]): Option[NodeMeta] = {
    val versionedPrefix = s"${name}_v"
    val candidates = manifest.refCandidates(name).filter(n =>
      n.resourceType == "model" || n.resourceType == "seed")
    val isVersioned = candidates.exists(n => n.version.isDefined || n.name != name)
    // effective version: explicit > filename suffix > implicit v1 base
    def effective(n: NodeMeta): String = n.version.map(normalizeVersion).getOrElse(
      if (n.name == name) "1" else normalizeVersion(n.name.stripPrefix(versionedPrefix)))
    if (candidates.isEmpty) None
    else version match {
      case Some(v) => candidates.find(n => effective(n) == normalizeVersion(v))
      case None if !isVersioned => candidates.find(_.name == name)
      case None => // dbt latest_version default: the highest version
        candidates.sortBy(n => effective(n).toDoubleOption.getOrElse(0.0)).lastOption
    }
  }

  /** Numeric version equivalence: "1" == 1 == 1.0 (Decimal-normalized
    * in the reference).
    */
  def normalizeVersion(v: Any): String = {
    val s = v.toString.trim
    s.toDoubleOption match {
      case Some(d) if d == d.floor => d.toLong.toString
      case Some(d) => d.toString
      case None => s
    }
  }

  def compile(raw: String, manifest: Manifest,
      vars: Map[String, Any] = Map.empty,
      envVars: Map[String, String] = sys.env,
      /** dbt incremental context: `is_incremental()` returns this and
        * `{{ this }}` renders the model's own existing relation.
        */
      incremental: Boolean = false,
      thisRelation: Option[String] = None,
      /** Unit-test fixture substitution: after a ref/source resolves
        * to its relation (temp view) name, an override redirects it to
        * the mock view — the model's SQL is otherwise untouched (dbt
        * unit-test semantics: same compile, swapped inputs).
        */
      relationOverrides: Map[String, String] = Map.empty,
      /** Unit-test `overrides.macros` beyond `is_incremental`: every
        * call of a named macro — builtin (`var`, `env_var`, ...) or
        * project-defined (the prologue's `{% macro %}` registration
        * would normally shadow an engine function, so these names are
        * PINNED in the Jinja env) — returns the given constant,
        * arguments ignored (dbt-core's unit-test macro-override
        * semantics).
        */
      macroOverrides: Map[String, Any] = Map.empty): Compiled = {
    val config = mutable.LinkedHashMap.empty[String, Any]
    val refs = mutable.ListBuffer.empty[String]
    val sources = mutable.ListBuffer.empty[(String, String)]

    val functions: Map[String, Jinja.Func] = Map(
      "ref" -> { (args, kwargs) =>
        val name = args.head.toString
        val version = kwargs.get("v").orElse(kwargs.get("version"))
          .orElse(args.lift(1))
        resolveRef(manifest, name, version) match {
          case Some(node) => relationOverrides.getOrElse(node.name, node.name)
          case None => throw Jinja.JinjaError(s"ref not found: $name${version.fold("")(v => s" v=$v")}")
        }
      },
      "source" -> { (args, _) =>
        val (src, tbl) = (args(0).toString, args(1).toString)
        sources += ((src, tbl))
        val uid = s"source.$src.$tbl"
        val rel = manifest.nodes.values.find(n => n.resourceType == "source" &&
          (n.uniqueId.endsWith(s".$src.$tbl") || n.uniqueId == uid))
          .map(_.name).getOrElse(tbl)
        relationOverrides.getOrElse(rel, rel)
      },
      "var" -> { (args, _) =>
        val key = args.head.toString
        vars.getOrElse(key,
          args.lift(1).getOrElse(throw Jinja.JinjaError(s"var not defined: $key")))
      },
      "env_var" -> { (args, _) =>
        val key = args.head.toString
        envVars.get(key).orElse(args.lift(1).map(_.toString))
          .getOrElse(throw Jinja.JinjaError(s"env_var not set: $key"))
      },
      "config" -> { (args, kwargs) =>
        config ++= kwargs
        ""
      },
      "doc" -> { (args, _) => s"{{ doc('${args.map(_.toString).mkString("', '")}') }}" },
      "is_incremental" -> { (_, _) => incremental },
    )

    // intercept ref() to also record dependencies
    val tracing = functions.updated("ref", { (args: Seq[Any], kwargs: Map[String, Any]) =>
      val out = functions("ref")(args, kwargs)
      val name = args.head.toString
      val version = kwargs.get("v").orElse(kwargs.get("version")).orElse(args.lift(1))
      resolveRef(manifest, name, version).foreach(n => refs += n.uniqueId)
      out
    })

    val overrideFns: Map[String, Jinja.Func] =
      macroOverrides.map { case (n, v) => n -> { (_: Seq[Any],
        _: Map[String, Any]) => v } }
    val sql = Jinja.renderTemplate(raw, Jinja.Env(
      vars = thisRelation.map("this" -> (_: Any)).toMap,
      functions = tracing ++ overrideFns,
      pinned = macroOverrides.keySet))
    Compiled(sql, config.toMap, refs.toSeq.distinct, sources.toSeq.distinct)
  }
}
