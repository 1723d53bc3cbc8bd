package graft.core

import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Warehouse-side column introspection (A4–A7) backed by the Spark
  * catalog / schema. The "warehouse" of the reference architecture IS
  * the Spark session here, so introspection is an in-process schema
  * walk instead of a network call; the cache mirrors the reference's
  * per-relation cache (core/introspection.py:99-140).
  */
object Introspection {

  /** Introspected column (reference ColumnMetadata:
    * core/introspection.py:1444-1449).
    */
  final case class IntrospectedColumn(
      name: String, dataType: String, index: Int, comment: Option[String] = None)

  /** Keyed by (table, flattenNested, ignorePatterns, precise numeric
    * types, string lengths).
    */
  private val cache =
    new ConcurrentHashMap[(String, Boolean, Seq[String], Boolean, Boolean),
      ListMap[String, IntrospectedColumn]]()

  def invalidate(): Unit = cache.clear()

  /** Drops the cached columns of one relation, which a rebuild has
    * just re-created.
    */
  def invalidate(table: String): Unit = cache.keySet.removeIf(_._1 == table)

  /** Adapter-aware case/quote normalization
    * (core/introspection.py:1250-1256): Snowflake-mode uppercases
    * unless double-quoted; otherwise strip quoting characters.
    */
  def normalizeColumnName(column: String, credentialsType: String): String =
    if (credentialsType == "snowflake" && column.startsWith("\"") && column.endsWith("\""))
      column
    else if (credentialsType == "snowflake")
      column.toUpperCase
    else
      column.stripPrefix("\"").stripSuffix("\"")
        .stripPrefix("`").stripSuffix("`")
        .stripPrefix("[").stripSuffix("]")

  /** Precise vs base dtype (core/introspection.py:1259-1291): keep
    * DECIMAL(p,s)/VARCHAR(n) only when the corresponding setting is
    * on, else the base type name.
    */
  def maybePreciseDtype(dt: DataType, settings: EngineSettings,
      node: Option[NodeMeta] = None, column: Option[String] = None): String = {
    val numPrec = SettingsResolver.resolveBool(Setting.NumericPrecisionAndScale,
      settings.numericPrecisionAndScale, settings, node, column)
    val strLen = SettingsResolver.resolveBool(Setting.StringLength,
      settings.stringLength, settings, node, column)
    dt match {
      case d: DecimalType => if (numPrec) s"DECIMAL(${d.precision},${d.scale})" else "DECIMAL"
      case v: VarcharType => if (strLen) s"VARCHAR(${v.length})" else "VARCHAR"
      case _: StringType => "VARCHAR"
      case IntegerType => "INTEGER"
      case LongType => "BIGINT"
      case ShortType => "SMALLINT"
      case ByteType => "TINYINT"
      case DoubleType => "DOUBLE"
      case FloatType => "FLOAT"
      case BooleanType => "BOOLEAN"
      case DateType => "DATE"
      case _: TimestampType => "TIMESTAMP"
      case _: TimestampNTZType => "TIMESTAMP"
      case BinaryType => "BINARY"
      case other => other.sql
    }
  }

  /** Flatten nested struct/array/map leaves into dotted column names,
    * mirroring the adapter `column.flatten()` path for BigQuery
    * RECORDs (core/introspection.py:1412-1418).
    */
  private[core] def flattenField(field: StructField, prefix: String): Seq[(String, DataType)] = {
    val name = if (prefix.isEmpty) field.name else s"$prefix.${field.name}"
    field.dataType match {
      case s: StructType =>
        (name -> (s: DataType)) +: s.fields.toSeq.flatMap(f => flattenField(f, name))
      case other => Seq(name -> other)
    }
  }

  /** Ordered columns for a relation, from a registered table/view
    * (A4). Honors regex ignore patterns and nested flattening; cached
    * per (table, settings-invariant) key.
    */
  def getColumns(spark: SparkSession, table: String, settings: EngineSettings,
      node: Option[NodeMeta] = None,
      ignorePatterns: Seq[String] = Nil,
      flattenNested: Boolean = false): ListMap[String, IntrospectedColumn] = {
    val key = (table, flattenNested, ignorePatterns, settings.numericPrecisionAndScale,
      settings.stringLength)
    Option(cache.get(key)).getOrElse {
      val schema = spark.table(table).schema
      val leaves: Seq[(String, DataType)] =
        if (flattenNested) schema.fields.toSeq.flatMap(f => flattenField(f, ""))
        else schema.fields.toSeq.map(f => f.name -> f.dataType)
      val compiled = ignorePatterns.map(_.r)
      val cols = leaves.zipWithIndex.collect {
        case ((name, dt), idx) if !compiled.exists(_.pattern.matcher(name).matches()) =>
          name -> IntrospectedColumn(name, maybePreciseDtype(dt, settings, node, Some(name)), idx)
      }
      val result = ListMap(cols: _*)
      cache.put(key, result)
      result
    }
  }

  /** Catalog snapshot (A5): table → ordered columns for every
    * registered table in the current database, as a plain map ready
    * for JSON serialization.
    */
  def generateCatalog(spark: SparkSession, tables: Seq[String],
      settings: EngineSettings): Map[String, Seq[IntrospectedColumn]] =
    tables.map(t => t -> getColumns(spark, t, settings).values.toSeq).toMap

  /** Per-column profile of a relation in ONE pass: row count, null
    * count, approximate distinct count (HLL), and min/max rendered as
    * strings (type-uniform output; q44 is the exact-oracle numeric
    * variant). All metrics are map-side-combinable aggregates of a
    * single scan — profiling cost is one read of the table no matter
    * how many columns it has.
    */
  final case class ColumnProfile(column: String, dtype: String,
      nRows: Long, nNulls: Long, approxDistinct: Long,
      min: Option[String], max: Option[String])

  def profileRelation(spark: SparkSession,
      relation: String): Seq[ColumnProfile] = {
    import org.apache.spark.sql.functions._
    val df = spark.table(relation)
    val fields = df.schema.fields.toSeq
    if (fields.isEmpty) return Nil
    val aggs = count(lit(1)).as("__n") +: fields.flatMap { f =>
      val c = col(f.name)
      Seq(
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"${f.name}__nulls"),
        approx_count_distinct(c).as(s"${f.name}__dist"),
        min(c).cast("string").as(s"${f.name}__min"),
        max(c).cast("string").as(s"${f.name}__max"))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    fields.map { f =>
      ColumnProfile(f.name, f.dataType.simpleString,
        nRows = r.getAs[Long]("__n"),
        nNulls = r.getAs[Long](s"${f.name}__nulls"),
        approxDistinct = r.getAs[Long](s"${f.name}__dist"),
        min = Option(r.getAs[String](s"${f.name}__min")),
        max = Option(r.getAs[String](s"${f.name}__max")))
    }
  }

  /** One of a column's most frequent values (value-count pair). */
  final case class TopValue(value: String, n: Long)

  /** Fixed-width histogram bin over `[lo, hi)` (last bin closed). */
  final case class HistBin(lo: Double, hi: Double, n: Long)

  /** ydata-minimal-grade per-column profile: the [[ColumnProfile]]
    * basics plus numeric moments + approximate quantiles + zero /
    * negative counts, string length stats, top-k frequent values and
    * a fixed-width histogram — the stats the reference's workbench
    * profiling pane (workbench/app.py:471-481, ydata
    * `minimal=True`) renders per column.
    */
  final case class DeepColumnProfile(
      base: ColumnProfile,
      mean: Option[Double] = None, stddev: Option[Double] = None,
      // p05, p25, p50, p75, p95
      quantiles: Option[Seq[Double]] = None,
      zeros: Option[Long] = None, negatives: Option[Long] = None,
      lenMin: Option[Long] = None, lenAvg: Option[Double] = None,
      lenMax: Option[Long] = None,
      topValues: Seq[TopValue] = Nil,
      histogram: Seq[HistBin] = Nil)

  /** Deep profile in a BOUNDED number of scans — never a per-column
    * job, never a driver-side materialization of the relation (the
    * reference hands the whole result frame to ydata-profiling in
    * pandas; at warehouse scale that is the one design that cannot
    * survive, so each stat family here is a map-side-combinable
    * aggregate):
    *
    *  1. one scan for every single-row aggregate — the
    *     [[profileRelation]] basics plus numeric mean / stddev /
    *     zeros / negatives / `percentile_approx` quantiles and
    *     string length min/avg/max for ALL columns at once;
    *  2. one scan for top-k frequent values, restricted to columns
    *     whose approx distinct count is ≤ `topKMaxDistinct` — the
    *     columns are exploded to (column, value) pairs and counted in
    *     ONE keyed aggregate, so the shuffle after partial
    *     aggregation is bounded by Σ per-column distincts, and a
    *     near-unique ID column can never force an n-row shuffle (it
    *     is simply ineligible, exactly the cardinality condition
    *     under which "top values" is informative at all);
    *  3. one scan for histograms over the numeric columns with a
    *     non-degenerate [min, max] from pass 1 — same explode-once
    *     pattern with `bins` fixed buckets per column, so the shuffle
    *     carries ≤ columns × bins rows.
    *
    * Collected output is ≤ columns × (topK + bins + 1) rows by
    * construction — safe to return regardless of relation size.
    */
  def profileRelationDeep(spark: SparkSession, relation: String,
      topK: Int = 5, bins: Int = 10,
      topKMaxDistinct: Long = 1000L): Seq[DeepColumnProfile] = {
    import org.apache.spark.sql.functions._
    val df = spark.table(relation)
    val fields = df.schema.fields.toSeq
    if (fields.isEmpty) return Nil
    val numeric = fields.filter(_.dataType.isInstanceOf[NumericType])
    val stringy = fields.filter(_.dataType.isInstanceOf[StringType])

    // pass 1: every single-row aggregate at once
    val aggs = count(lit(1)).as("__n") +: (fields.flatMap { f =>
      val c = col(f.name)
      Seq(
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"${f.name}__nulls"),
        approx_count_distinct(c).as(s"${f.name}__dist"),
        min(c).cast("string").as(s"${f.name}__min"),
        max(c).cast("string").as(s"${f.name}__max"))
    } ++ numeric.flatMap { f =>
      val d = col(f.name).cast("double")
      Seq(
        avg(d).as(s"${f.name}__mean"),
        stddev_samp(d).as(s"${f.name}__std"),
        sum(when(d === 0d, 1L).otherwise(0L)).as(s"${f.name}__zeros"),
        sum(when(d < 0d, 1L).otherwise(0L)).as(s"${f.name}__negs"),
        min(d).as(s"${f.name}__dmin"),
        max(d).as(s"${f.name}__dmax"),
        percentile_approx(d,
          array(lit(0.05), lit(0.25), lit(0.5), lit(0.75), lit(0.95)),
          lit(2500)).as(s"${f.name}__q"))
    } ++ stringy.flatMap { f =>
      val l = length(col(f.name))
      Seq(
        min(l).cast("long").as(s"${f.name}__lmin"),
        avg(l).as(s"${f.name}__lavg"),
        max(l).cast("long").as(s"${f.name}__lmax"))
    })
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    def optD(k: String): Option[Double] =
      if (r.isNullAt(r.fieldIndex(k))) None else Some(r.getAs[Double](k))
    def optL(k: String): Option[Long] =
      if (r.isNullAt(r.fieldIndex(k))) None else Some(r.getAs[Long](k))
    val basics = fields.map { f =>
      f.name -> ColumnProfile(f.name, f.dataType.simpleString,
        nRows = r.getAs[Long]("__n"),
        nNulls = r.getAs[Long](s"${f.name}__nulls"),
        approxDistinct = r.getAs[Long](s"${f.name}__dist"),
        min = Option(r.getAs[String](s"${f.name}__min")),
        max = Option(r.getAs[String](s"${f.name}__max")))
    }.toMap

    // pass 2: top-k frequent values over the cardinality-eligible set
    val eligible = fields.filter { f =>
      val b = basics(f.name)
      b.approxDistinct > 0 && b.approxDistinct <= topKMaxDistinct
    }
    val topVals: Map[String, Seq[TopValue]] =
      if (eligible.isEmpty || topK <= 0) Map.empty
      else {
        val kv = eligible.flatMap(f =>
          Seq(lit(f.name), col(f.name).cast("string")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("__pc").orderBy(col("__pn").desc, col("__pv"))
        df.select(explode(map(kv: _*)).as(Seq("__pc", "__pv")))
          .filter(col("__pv").isNotNull)
          .groupBy("__pc", "__pv").agg(count(lit(1)).as("__pn"))
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= topK)
          .collect().toSeq
          .groupBy(_.getAs[String]("__pc"))
          .map { case (c, rows) =>
            c -> rows.sortBy(_.getAs[Int]("__rk"))
              .map(x => TopValue(x.getAs[String]("__pv"), x.getAs[Long]("__pn")))
          }
      }

    // pass 3: fixed-width histograms over non-degenerate numeric cols
    val histCols = numeric.flatMap { f =>
      (optD(s"${f.name}__dmin"), optD(s"${f.name}__dmax")) match {
        case (Some(lo), Some(hi)) if hi > lo => Some((f, lo, hi))
        case _ => None
      }
    }
    val hists: Map[String, Seq[HistBin]] =
      if (histCols.isEmpty || bins <= 0) Map.empty
      else {
        val kv = histCols.flatMap { case (f, lo, hi) =>
          val d = col(f.name).cast("double")
          // bucket 0..bins-1; the max value closes the last bin
          val b = least(floor((d - lit(lo)) / lit(hi - lo) * lit(bins))
            .cast("long"), lit(bins - 1L))
          Seq(lit(f.name), when(d.isNull || isnan(d), lit(null)).otherwise(b))
        }
        val counts = df.select(explode(map(kv: _*)).as(Seq("__hc", "__hb")))
          .filter(col("__hb").isNotNull)
          .groupBy("__hc", "__hb").agg(count(lit(1)).as("__hn"))
          .collect()
          .groupBy(_.getAs[String]("__hc"))
          .map { case (c, rows) =>
            c -> rows.map(x => x.getAs[Long]("__hb") -> x.getAs[Long]("__hn")).toMap
          }
        histCols.map { case (f, lo, hi) =>
          val byBin = counts.getOrElse(f.name, Map.empty[Long, Long])
          val width = (hi - lo) / bins
          f.name -> (0 until bins).map(i =>
            HistBin(lo + i * width, if (i == bins - 1) hi else lo + (i + 1) * width,
              byBin.getOrElse(i.toLong, 0L)))
        }.toMap
      }

    fields.map { f =>
      val isNum = f.dataType.isInstanceOf[NumericType]
      val isStr = f.dataType.isInstanceOf[StringType]
      DeepColumnProfile(
        base = basics(f.name),
        mean = if (isNum) optD(s"${f.name}__mean") else None,
        stddev = if (isNum) optD(s"${f.name}__std") else None,
        quantiles =
          if (isNum && !r.isNullAt(r.fieldIndex(s"${f.name}__q")))
            Some(r.getSeq[Double](r.fieldIndex(s"${f.name}__q")))
          else None,
        zeros = if (isNum) optL(s"${f.name}__zeros") else None,
        negatives = if (isNum) optL(s"${f.name}__negs") else None,
        lenMin = if (isStr) optL(s"${f.name}__lmin") else None,
        lenAvg = if (isStr) optD(s"${f.name}__lavg") else None,
        lenMax = if (isStr) optL(s"${f.name}__lmax") else None,
        topValues = topVals.getOrElse(f.name, Nil),
        histogram = hists.getOrElse(f.name, Nil))
    }
  }
}
