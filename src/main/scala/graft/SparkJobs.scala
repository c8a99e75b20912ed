package graft

import java.util.concurrent.{CompletionException, ExecutorService, Executors}

import scala.concurrent.{Future, Promise}

import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** Names the Spark jobs an operator starts, so a profile or spans file
  * groups them by operator instead of by call site.
  */
object SparkJobs {

  /** Runs `body` with its Spark jobs described and their stages named
    * `name` (job description and short call site), restoring the caller's
    * values after.
    */
  def named[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val keys = Seq("spark.job.description", "callSite.short")
    val saved = keys.map(sc.getLocalProperty)
    keys.foreach(sc.setLocalProperty(_, name))
    try body
    finally keys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  // daemon threads: a pending write must not keep the JVM alive
  private lazy val pool: ExecutorService = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-spark-jobs")
    t.setDaemon(true)
    t
  }

  /** Starts `named(spark, name)(body)` on a shared pool thread that carries
    * the caller's local properties (job group, streaming query id, active
    * session), as Spark's own broadcast and subquery paths do. The future
    * fails with the body's own exception, not a `CompletionException`.
    */
  def async[T](spark: SparkSession, name: String)(body: => T): Future[T] = {
    val p = Promise[T]()
    SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[classic.SparkSession], pool)(
      named(spark, name)(body)
    ).whenComplete { (v: T, e: Throwable) =>
      e match {
        case null => p.success(v)
        case c: CompletionException if c.getCause != null => p.failure(c.getCause)
        case _ => p.failure(e)
      }
    }
    p.future
  }
}
