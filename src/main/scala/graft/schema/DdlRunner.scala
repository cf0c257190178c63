package graft.schema

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

import graft.core.Bounded

/** Parallel DDL execution with the reference's retry state machine
  * (SURVEY §3.1 step 5; `bigquery_client_utils/ddl.py:59-153`,
  * `schema_dag.py:134-196`).
  *
  * Scripts run concurrently on a bounded pool (`batchDistribution`
  * semantics) through a PENDING→STARTED→DONE/FAILED/RETRY machine,
  * iterated to fixpoint: already-exists errors count as DONE (the
  * reference treats HTTP 409 as success), missing-database errors are
  * RETRY (a concurrent script may create the schema — retried next
  * round, like the reference's 404 class), anything else is FAILED.
  * Rounds stop when nothing is left to retry or a round makes no
  * progress.
  */
object DdlRunner {

  sealed trait State
  case object Done extends State
  case object Failed extends State
  case object Retry extends State

  final case class ScriptResult(
      name: String,
      statement: String,
      state: State,
      attempts: Int,
      error: Option[String])

  private def classify(e: Throwable): (State, Option[String]) = {
    val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
    val u = msg.toUpperCase
    if (u.contains("ALREADY_EXISTS") || u.contains("ALREADY EXISTS"))
      (Done, Some(msg)) // 409-equivalent: the object is there
    else if (u.contains("SCHEMA_NOT_FOUND") || u.contains("DATABASE") && u.contains("NOT FOUND"))
      (Retry, Some(msg)) // 404-equivalent: dependency may appear
    else (Failed, Some(msg))
  }

  /** Execute `scripts` (name → one SQL statement each) with bounded
    * parallelism and retry rounds. */
  def run(
      spark: SparkSession,
      scripts: Seq[(String, String)],
      parallelism: Int = 10,
      maxRounds: Int = 3): Seq[ScriptResult] = {
    var pending = scripts.map { case (n, s) => ScriptResult(n, s, Retry, 0, None) }
    var done = Vector.empty[ScriptResult]
    var round = 0
    while (pending.nonEmpty && round < maxRounds) {
      round += 1
      val results = Await.result(Bounded.map(pending, parallelism) { sr =>
        val (st, msg) =
          try { spark.sql(sr.statement); (Done, None) } catch { case e: Throwable => classify(e) }
        sr.copy(state = st, attempts = sr.attempts + 1, error = msg)
      }, Duration.Inf)
      val (retry, settled) = results.partition(_.state == Retry)
      done ++= settled
      // no progress this round -> stop retrying (fixpoint)
      pending = if (settled.isEmpty && retry.size == pending.size && round > 1) {
        done ++= retry.map(_.copy(state = Failed)); Nil
      } else retry
    }
    done ++= pending.map(_.copy(state = Failed)) // rounds exhausted
    done
  }

  /** Create target databases up front (reference `schema_dag.py:82-99`
    * creates datasets from nameMappingList before running scripts). */
  def ensureDatabases(spark: SparkSession, databases: Seq[String]): Unit =
    databases.distinct.foreach(d => spark.sql(s"CREATE DATABASE IF NOT EXISTS $d"))
}
