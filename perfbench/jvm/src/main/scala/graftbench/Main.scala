package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Runs one benchmark workload in-process and writes `result.json` into the
  * run directory. Usage: `Main <workload> <runDir> <seconds> <trace 0|1>`.
  * `runDir/config.json` holds the generated inputs' description; the caller
  * (perfbench/run.py) generates inputs, checks outputs and prints metrics.
  */
object Main {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val Array(workload, runDirArg, secondsArg, traceArg) = args
    val runDir = Paths.get(runDirArg).toAbsolutePath
    val cfg = mapper.readTree(runDir.resolve("config.json").toFile)
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors).toString
    val spark = graft.SessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Rec(if (traceArg == "1") Some(Tracer.install(spark)) else None)
    try {
      val w: Workload = workload match {
        case "yaml_refactor" => new YamlRefactor(spark, cfg, runDir, rec)
        case "build_serve" => new BuildServe(spark, cfg, runDir, rec)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      w.setup()
      val deadline = System.nanoTime() + (secondsArg.toDouble * 1e9).toLong
      rec.timing = true
      rec.timedStartMs = System.currentTimeMillis()
      // whole rounds only: the last one may end after the deadline
      while (rec.rounds == 0 || System.nanoTime() < deadline) { w.round(); rec.rounds += 1 }
      rec.timedEndMs = System.currentTimeMillis()
      rec.timing = false
      rec.tracer.foreach(_.drain())
      // two collections: one alone leaves a varying share of garbage behind
      System.gc(); Thread.sleep(200); System.gc()
      val rt = Runtime.getRuntime
      rec.liveHeapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0
      w.finish()
    } finally {
      Files.writeString(runDir.resolve("result.json"), rec.toJson)
      spark.stop()
    }
  }
}

trait Workload {
  def setup(): Unit
  def round(): Unit
  def finish(): Unit = ()
}

/** Everything a run measures. Layer times are summed per name over the timed
  * rounds; samples keep every timed repetition of an end-to-end operation. */
final class Rec(val tracer: Option[Tracer]) {
  var timedStartMs = 0L
  var timedEndMs = 0L
  var rounds = 0
  var liveHeapMb = 0.0
  var attempted = 0L
  var failed = 0L
  var timing = false
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val errors = mutable.LinkedHashSet.empty[String] // failed operations' messages

  def sample(name: String, v: Double): Unit =
    if (timing) synchronized { samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v }

  def count(name: String, v: Double): Unit =
    if (timing) synchronized { layers(name) = layers.getOrElse(name, 0.0) + v }

  /** Times one call into a layer from outside and adds it to `name`. */
  def span[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally count(name, (System.nanoTime() - t0) / 1e9)
  }

  /** One operation: counted in `attempted` and, when it throws, in `failed`. */
  def op[T](f: => T): Option[T] = {
    if (timing) synchronized(attempted += 1)
    try Some(f) catch {
      case e: Exception =>
        if (timing) synchronized(failed += 1)
        synchronized(errors += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
        None
    }
  }

  def phase[T](name: String)(f: => T): T =
    if (!timing) f
    else {
      tracer.foreach(_.begin(name))
      try f finally tracer.foreach(_.end())
    }

  def toJson: String = {
    val m = Main.mapper
    val o = m.createObjectNode()
    o.put("timed_start_ms", timedStartMs)
    o.put("timed_end_ms", timedEndMs)
    o.put("rounds", rounds)
    o.put("live_heap_mb", liveHeapMb)
    o.put("attempted", attempted)
    o.put("failed", failed)
    val s = o.putObject("samples")
    samples.foreach { case (k, vs) => val a = s.putArray(k); vs.foreach(v => a.add(v)) }
    val l = o.putObject("layers")
    layers.foreach { case (k, v) => l.put(k, v) }
    tracer.foreach(_.counters.foreach { case (k, v) => l.put(k, v) })
    val e = o.putArray("errors")
    errors.foreach(e.add)
    m.writeValueAsString(o)
  }
}

object Io {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      val paths = try s.iterator().asScala.toSeq finally s.close()
      paths.reverse.foreach(Files.delete)
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    val paths = try s.iterator().asScala.toSeq finally s.close()
    paths.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
  }

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq

  def obj(): ObjectNode = Main.mapper.createObjectNode()
}
