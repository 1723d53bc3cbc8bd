package graft.core

import scala.concurrent.{Await, Future, Promise, TimeoutException}
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Model validation (A43; core/validation.py:136-286): compile each
  * model and run analysis-only validation — Catalyst's analyzer
  * resolves relations/columns/types without executing, the Spark
  * equivalent of the reference's EXPLAIN dry-run, with a per-model
  * timeout standing in for its SIGALRM guard.
  */
object Validation {

  final case class Result(nodeId: String, status: String, error: Option[String])

  def validateSql(spark: SparkSession, sql: String,
      timeout: Duration = 30.seconds): Option[String] = {
    import Parallel.executor
    Try(Await.result(Future {
      spark.sql(sql).queryExecution.analyzed
    }, timeout)) match {
      case Success(_) => None
      case Failure(e) => Some(firstLines(e))
    }
  }

  private def firstLines(e: Throwable): String = e.getMessage.linesIterator.take(3).mkString(" ")

  /** Validate every compiled model in the manifest, in `uniqueId`
    * order. Models are analysed concurrently on [[Parallel]]'s pool;
    * each one's timeout runs from when its analysis starts.
    */
  def validateModels(spark: SparkSession, manifest: Manifest,
      timeout: Duration = 30.seconds): Seq[Result] = {
    import Parallel.executor
    val models = manifest.models.toSeq.sortBy(_.uniqueId)
    val analyses = models.map(_.compiledCode.map { sql =>
      val started = Promise[Long]()
      started -> Future {
        started.success(System.nanoTime())
        spark.sql(sql).queryExecution.analyzed
      }
    })
    models.zip(analyses).map {
      case (node, None) => Result(node.uniqueId, "skipped", Some("not compiled"))
      case (node, Some((started, analysis))) =>
        val left = timeout - (System.nanoTime() - Await.result(started.future, Duration.Inf)).nanos
        Try(Await.result(analysis, left)) match {
          case Success(_) => Result(node.uniqueId, "passed", None)
          case Failure(_: TimeoutException) if !analysis.isCompleted =>
            Result(node.uniqueId, "failed", Some(s"Future timed out after [$timeout]"))
          case Failure(e) => Result(node.uniqueId, "failed", Some(firstLines(e)))
        }
    }
  }
}
