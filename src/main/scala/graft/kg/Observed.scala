package graft.kg

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{Column, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.concurrent.{Await, Future, Promise, TimeoutException}
import scala.concurrent.duration._

/** `Dataset.observe` metrics completed with the wall of the action
  * that computed them, both from one `QueryExecutionListener.onSuccess`
  * per session: `qe.observedMetrics` (which also reads observations
  * inside a cached relation the action scanned) and `durationNs`. The
  * first successful action reporting an observation completes it, and
  * later actions leave it unchanged. One that no action computes stays
  * pending, as Spark's own `Observation` does. */
object Observed {

  final case class Completion(row: Row, wallNs: Long)

  private val pending = new ConcurrentHashMap[String, Promise[Completion]]()
  private val sessions = java.util.Collections.newSetFromMap(new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  private object Listener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        Option(pending.remove(name)).foreach(_.trySuccess(Completion(row, durationNs)))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** `ds` observing the aggregate `metrics` under a fresh name, and the
    * completion of the first action that computes them. */
  def apply[T](ds: Dataset[T], metric: Column, metrics: Column*): (Dataset[T], Future[Completion]) = {
    sessions.synchronized { if (sessions.add(ds.sparkSession)) ds.sparkSession.listenerManager.register(Listener) }
    val name = s"graft-observed-${UUID.randomUUID()}"
    val done = Promise[Completion]()
    pending.put(name, done)
    (ds.observe(name, metric, metrics: _*), done.future)
  }

  /** How long a reader waits for an observation: listeners hear of it
    * after the action returns. */
  val Within: FiniteDuration = 60.seconds

  /** `f`'s value, or an `IllegalStateException` naming `what` if it is
    * not there within `within`: no count is guessed. */
  def await[T](f: Future[T], what: String, within: FiniteDuration = Within): T =
    try Await.result(f, within)
    catch { case e: TimeoutException => throw new IllegalStateException(s"no $what observed within $within", e) }
}
