package graft

import org.apache.spark.sql.SparkSession

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
}
