package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.compile.DbtCompiler
import graft.exec.ModelExecutor
import graft.project.ProjectLoader
import graft.serve.SqlProxy

/** A dbt-style project built with `ModelExecutor.buildAll` into a fresh
  * table directory, then served through `SqlProxy`'s HTTP face to closed-loop
  * clients, each sending its own fixed list of requests once per round. */
final class BuildServe(spark: SparkSession, cfg: JsonNode, runDir: Path, rec: Rec)
    extends Workload {
  private val projectDir = cfg.get("project").asText()
  private val clients: Seq[Seq[JsonNode]] =
    cfg.get("clients").elements().asScala.map(_.elements().asScala.toSeq).toSeq
  private val http = HttpClient.newHttpClient()
  private var built = 0
  private var lastTables: Option[Path] = None
  private var lastResponses: Seq[Seq[(Int, String)]] = Nil
  private var lastSchema = ""

  def setup(): Unit = {
    val data = cfg.get("data").asText()
    Io.strings(cfg.get("tables")).foreach(t =>
      spark.read.parquet(s"$data/$t.parquet").createOrReplaceTempView(t))
    round(perClient = 8) // warm-up: one build and each client's first requests
  }

  def round(): Unit = round(clients.head.size)

  private def round(perClient: Int): Unit = {
    val tables = runDir.resolve(s"tables_$built")
    built += 1
    val t0 = System.nanoTime()
    val executor = rec.phase("build")(rec.op {
      val ex = new ModelExecutor(spark, ProjectLoader.load(projectDir), Some(tables.toString))
      ex.buildAll()
      ex
    })
    rec.sample("build_s", (System.nanoTime() - t0) / 1e9)
    lastTables.foreach(Io.deleteTree)
    lastTables = Some(tables)
    executor.foreach(serve(_, clients.map(_.take(perClient))))
  }

  private def serve(executor: ModelExecutor, lists: Seq[Seq[JsonNode]]): Unit = {
    val proxy = new SqlProxy(executor).start()
    val base = s"http://127.0.0.1:${proxy.boundPort}"
    try {
      val t0 = System.nanoTime()
      lastResponses = rec.phase("serve") {
        val threads = lists.map(reqs => new Worker(base, reqs))
        threads.foreach(_.start())
        threads.foreach(_.join())
        threads.map(_.responses.toSeq)
      }
      rec.count("serve.busy_s", (System.nanoTime() - t0) / 1e9)
      lastSchema = send(base, "schema", null)._2
    } finally proxy.stop()
    if (rec.tracer.isDefined)
      for (c <- lists; r <- c if r.get("kind").asText() != "schema") {
        val t0 = System.nanoTime()
        DbtCompiler.compile(r.get("sql").asText(), executor.manifest, Map.empty)
        rec.sample("compile.jinja_ms", (System.nanoTime() - t0) / 1e6)
      }
  }

  private def send(base: String, kind: String, sql: String): (Int, String) = {
    val req =
      if (kind == "schema") HttpRequest.newBuilder(URI.create(s"$base/schema")).GET().build()
      else {
        val body = Io.obj().put("sql", sql).toString
        HttpRequest.newBuilder(URI.create(s"$base/query"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      }
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private final class Worker(base: String, reqs: Seq[JsonNode]) extends Thread {
    val responses = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    override def run(): Unit = reqs.foreach { r =>
      val kind = r.get("kind").asText()
      val t0 = System.nanoTime()
      val resp = rec.op {
        val out = send(base, kind, Option(r.get("sql")).map(_.asText()).orNull)
        if (out._1 != 200) throw new IllegalStateException(s"$kind: HTTP ${out._1} ${out._2}")
        out
      }
      val ms = (System.nanoTime() - t0) / 1e6
      resp.foreach { case (_, body) =>
        rec.sample("query_ms", ms)
        rec.sample(s"serve.$kind.ms", ms)
        rec.count("serve.requests", 1)
        rec.count("serve.response_bytes", body.length)
        if (kind != "schema" && kind != "alter")
          rec.count("serve.rows_returned", Main.mapper.readTree(body).get("rows").size())
      }
      responses += resp.getOrElse((-1, ""))
    }
  }

  override def finish(): Unit = {
    val o = Io.obj()
    lastTables.foreach(t => o.put("tables", t.toString))
    o.put("schema", lastSchema)
    val a = o.putArray("responses")
    lastResponses.foreach { c => val ca = a.addArray(); c.foreach(r => ca.add(r._2)) }
    java.nio.file.Files.writeString(runDir.resolve("served.json"), o.toString)
  }
}
