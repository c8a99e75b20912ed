package graft

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.SparkException

/** `SparkJobs.async`: the caller's job group reaches the pool thread, the
  * body's own exception reaches the caller, and the caller's properties
  * stay its own.
  */
class SparkJobsSpec extends SparkSuite {
  import spark.implicits._

  test("async runs under the caller's job group and its own name; failures surface unwrapped") {
    val sc = spark.sparkContext
    val callSite = sc.getLocalProperty("callSite.short")
    sc.setJobGroup("graft-async-spec", "caller group")
    sc.setJobDescription("caller description")
    try {
      val seen = Await.result(SparkJobs.async(spark, "async spec job") {
        spark.range(3).count()
        (sc.getLocalProperty("spark.jobGroup.id"), sc.getLocalProperty("spark.job.description"),
          sc.getLocalProperty("callSite.short"))
      }, 60.seconds)
      assert(seen === (("graft-async-spec", "async spec job", "async spec job")))

      val boom = new IllegalStateException("boom")
      val thrown = intercept[IllegalStateException] {
        Await.result(SparkJobs.async(spark, "async spec failure")(throw boom), 60.seconds)
      }
      assert(thrown eq boom)
      // a failed Spark job reaches the caller as Spark's own exception
      intercept[SparkException] {
        Await.result(SparkJobs.async(spark, "async spec failed job") {
          spark.range(1).as[Long].map(i => if (i >= 0) throw new IllegalStateException("task") else i)
            .collect()
        }, 60.seconds)
      }

      assert(sc.getLocalProperty("spark.job.description") === "caller description")
      assert(sc.getLocalProperty("callSite.short") === callSite)
      assert(sc.getLocalProperty("spark.jobGroup.id") === "graft-async-spec")
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
    }
  }
}
