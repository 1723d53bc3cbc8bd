package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{name:sec,...},"sf":dir}.
  *
  * Methodology: one warm-up action (lineitem count) absorbs
  * session/codegen startup, then SPARK_GRAFT_BENCH_REPS (default 3)
  * FULL SWEEPS run, each timing every query cold-plan in sorted name
  * order; the reported per-query number is the median across sweeps.
  * Sweep interleaving separates a query's repeats by minutes, so a
  * burst of scheduler/IO contention (driver rounds have shown 17×
  * single-query swings on identical binaries) corrupts at most one
  * of the three samples and the median discards it. `reps_spread` is
  * the worst per-query (max−min)/median across sweeps — the
  * noise-floor reading for judging cross-round deltas. Timing covers
  * plan + execution to a parquet write of the full result — the same
  * consuming action Verify uses — so the timed plan includes the
  * verified ORDER BY and projections (a bare count() would let
  * EliminateSorts drop the global sort and prune columns, timing a
  * cheaper plan than the one that is graded for correctness).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // shared execution-layer defaults (shuffle writer choice, AQE,
    // nanos-long parquet, UTC) live in SessionDefaults — one
    // definition site for every graft face
    val spark = SessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    Tables.lineitem(spark, sfDir).count() // warm-up: JVM + parquet footer reads
    // warm-up 2: one-time expression-runtime class initialization.
    // Thread dumps of the r15 profile run showed the FIRST evaluation
    // of lower()/initcap-family expressions paying a ~4 s, once-per-
    // JVM static init of the ICU collation tables
    // (CollationAwareUTF8String.<clinit> — 31 of 32 tasks parked on
    // the class-init monitor), charged to whichever query evaluates
    // it first in sweep 1 and inflating that query's reps_spread.
    // Evaluate each hot expression family once on a 1-row relation so
    // startup cost lands here, not inside a timed query (guide §1:
    // the warm-up absorbs session/codegen startup).
    locally {
      import org.apache.spark.sql.functions._
      graft.functions.GraftFunctions.register(spark)
      spark.range(1)
        .select(concat_ws(" ", lit("Warm Up"), col("id").cast("string"))
          .as("t"))
        .select(lower(col("t")).as("lo"), upper(col("t")).as("up"),
          sha2(col("t").cast("binary"), 256).as("h"),
          regexp_replace(col("t"), "\\s+", " ").as("re"),
          call_function("fnv64", col("t")).as("f"),
          graft.operators.Dedup.minhashSignature(col("t"), 3, 4).as("sig"))
        .write.format("noop").mode("overwrite").save()
    }

    // optional comma-separated subset filter for focused runs
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val outRoot = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench_out")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // machine-window canary BASKET: three fixed reference workloads
    // timed at the head of every sweep — scan-bound (q01: scan +
    // filter + agg), shuffle-bound (q04: join + agg), and window-bound
    // (q09: global window rank). Cross-round comparisons divide by the
    // basket median — the driver machine has documented multi-round
    // noise windows (uniform 10–40% inflation; SCALING.md r9/r10), and
    // a single scan canary missed a ~7% uniform shift in r12 because
    // machine regimes move the three resource classes unequally; the
    // basket median is robust to one class regime-shifting alone.
    // a FAILED canary must not enter its median — its (typically
    // short) elapsed time would silently skew every canary-normalized
    // cross-round ratio; NaN here, filtered at append below, and the
    // record emits null when no rep succeeded so normalized ratios
    // are absent rather than wrong.
    val canaryDefs: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "scan" -> (() => queries.Relational.q01(spark, sfDir)),
      "shuffle" -> (() => queries.Relational.q04(spark, sfDir)),
      "window" -> (() => queries.Relational.q09(spark, sfDir)))
    def runCanary(name: String,
        fn: () => org.apache.spark.sql.DataFrame): Double = {
      // guide §1.5: label jobs so event-log/UI stage time attributes
      // to its query; description is thread-local and timing-neutral
      spark.sparkContext.setJobDescription(s"canary:$name")
      val t0 = System.nanoTime()
      try {
        fn().write.mode("overwrite")
          .parquet(s"$outRoot/__canary_$name.parquet")
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] canary $name failed: ${e.getMessage}")
        Double.NaN
      } finally spark.sparkContext.setJobDescription(null)
    }
    val canarySamples =
      scala.collection.mutable.Map.empty[String, List[Double]]
        .withDefaultValue(Nil)
    val samples = (0 until reps).map { _ =>
      canaryDefs.foreach { case (cn, fn) =>
        val c = runCanary(cn, fn)
        if (!c.isNaN) canarySamples(cn) = canarySamples(cn) :+ c
      }
      selected.map { case (name, fn) =>
        spark.sparkContext.setJobDescription(name)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.mode("overwrite")
            .parquet(s"$outRoot/$name.parquet")
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        finally spark.sparkContext.setJobDescription(null)
        name -> (System.nanoTime() - t0) / 1e9
      }.toMap
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val results = selected.map { case (name, _) =>
      name -> median(samples.map(_(name)))
    }
    // per-query relative jitter across reps: (max-min)/median. The
    // headline reps_spread stays the MAX (its historical meaning),
    // but the record also names the offenders — a single cold 0.3 s
    // query can put a double-digit max on an otherwise clean window,
    // and without the per-query attribution every such record needs
    // a hand-run decomposition after the fact.
    val spreads: Seq[(String, Double)] =
      if (reps < 2) Nil
      else results.toSeq.map { case (name, med) =>
        val xs = samples.map(_(name))
        name -> (if (med <= 0) 0.0 else (xs.max - xs.min) / med)
      }
    val repsSpread =
      if (spreads.isEmpty) 0.0 else spreads.map(_._2).max
    val spreadP95 =
      if (spreads.isEmpty) 0.0
      else {
        val s = spreads.map(_._2).sorted
        s(((s.size - 1) * 95) / 100)
      }
    val spreadTopJson = spreads.sortBy(-_._2).take(5)
      .map { case (n, v) => "{\"q\":\"" + n + f"""","spread":$v%.3f}""" }
      .mkString("[", ",", "]")
    val qs = results.map { case (k, v) => "\"" + k + f"""":$v%.3f""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // scale headline: excludes the three QUADRATIC-BY-DESIGN exactness
    // baselines (t08 brute-force ANN, t10 all-pairs embedding dedup,
    // t91 exact cross-side margin mining) whose cost is O(n²·d) by
    // construction — t09/t13/t112 are the shipped sublinear paths for
    // the same semantics. At sf >= 1 the quadratic baselines dominate
    // the total and drown every scale signal.
    val quadraticBaselines = Set("t08_ann_brute_topk", "t10_emb_near_dup",
      "t91_margin_pairs")
    val headline = results.collect {
      case (k, v) if !quadraticBaselines(k) => v
    }.sum
    // per-canary medians; the basket median (median of the three
    // class medians) is the normalization denominator of record.
    // canary_s stays the SCAN median for continuity with pre-r13
    // records (earlier rounds' canary_s was exactly that workload).
    val canaryMeds: Seq[(String, Double)] = canaryDefs.collect {
      case (cn, _) if canarySamples(cn).nonEmpty =>
        cn -> median(canarySamples(cn))
    }
    val canariesJson = canaryMeds
      .map { case (cn, v) => "\"" + cn + f"""":$v%.3f""" }
      .mkString("{", ",", "}")
    val scanOpt = canaryMeds.collectFirst {
      case ("scan", v) if v > 0 => v
    }
    val basketOpt =
      if (canaryMeds.isEmpty) None
      else Some(median(canaryMeds.map(_._2))).filter(_ > 0)
    val canaryJson = scanOpt.map(c => f"$c%.3f").getOrElse("null")
    val basketJson = basketOpt.map(c => f"$c%.3f").getOrElse("null")
    // key hygiene: *_over_canary keeps its PRE-r13 meaning (divide by
    // the SCAN canary) so cross-round tooling never mixes two
    // normalizations; the basket-median ratios — the r13+
    // normalization of record — live under NEW *_over_basket keys,
    // with the denominator kind recorded explicitly.
    val totalScanJson =
      scanOpt.map(c => f"${total / c}%.1f").getOrElse("null")
    val headlineScanJson =
      scanOpt.map(c => f"${headline / c}%.1f").getOrElse("null")
    val totalBasketJson =
      basketOpt.map(c => f"${total / c}%.1f").getOrElse("null")
    val headlineBasketJson =
      basketOpt.map(c => f"${headline / c}%.1f").getOrElse("null")
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","value_scale_headline":$headline%.3f,"headline_excludes":["t08_ann_brute_topk","t10_emb_near_dup","t91_margin_pairs"],"canary_s":$canaryJson,"canaries":$canariesJson,"canary_basket_s":$basketJson,"total_over_canary":$totalScanJson,"headline_over_canary":$headlineScanJson,"total_over_basket":$totalBasketJson,"headline_over_basket":$headlineBasketJson,"norm_denominators":{"over_canary":"scan_canary_median","over_basket":"canary_basket_median"},"reps":$reps,"reps_spread":$repsSpread%.3f,"reps_spread_p95":$spreadP95%.3f,"spread_top":$spreadTopJson,"queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // the driver parses a bounded stdout tail, which truncates on a
    // 214-query surface (BENCH_r13.json carried parsed: null) — also
    // write the summary whole to a standalone file it can pick up
    val summaryPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON", "BENCH_SUMMARY.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(summaryPath),
        (line + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] summary file write failed: ${e.getMessage}")
    }
    // the LAST stdout line is a COMPACT summary (no per-query map) so
    // the driver's bounded tail parse always lands a complete JSON
    // object: totals, normalizations and spread in < 500 chars; the
    // full per-query map stays in the line above and in the summary
    // file
    val compact = f"""{"metric":"total","value":$total%.3f,"unit":"sec","value_scale_headline":$headline%.3f,"canary_s":$canaryJson,"canary_basket_s":$basketJson,"total_over_canary":$totalScanJson,"headline_over_canary":$headlineScanJson,"total_over_basket":$totalBasketJson,"headline_over_basket":$headlineBasketJson,"reps":$reps,"reps_spread":$repsSpread%.3f,"reps_spread_p95":$spreadP95%.3f,"n_queries":${results.size},"queries_full":"BENCH_SUMMARY.json","sf":"$sfDir"}"""
    println(compact)
    spark.stop()
  }
}
