package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** `SparkJobs.named`: the body's jobs carry the name as their description,
  * and the caller's properties are its own again afterwards, also when the
  * body throws.
  */
class SparkJobsSpec extends SparkSuite {

  test("named describes the body's jobs and restores the caller's properties") {
    val sc = spark.sparkContext
    val Marker = "named spec marker"
    val seen = new ConcurrentLinkedQueue[String]()
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).foreach { d =>
          if (d == Marker) markerSeen.countDown() else seen.add(d)
        }
    }
    val callSite = sc.getLocalProperty("callSite.short")
    sc.addSparkListener(listener)
    sc.setJobDescription("caller description")
    try {
      val n = SparkJobs.named(spark, "named spec job") {
        assert(sc.getLocalProperty("callSite.short") === "named spec job")
        spark.range(3).count()
      }
      assert(n === 3)
      intercept[IllegalStateException](SparkJobs.named(spark, "named spec failure") {
        throw new IllegalStateException("boom")
      })
      assert(sc.getLocalProperty("spark.job.description") === "caller description")
      assert(sc.getLocalProperty("callSite.short") === callSite)
      // the listener bus is ordered: once the marker job is reported,
      // every earlier job has been
      sc.setJobDescription(Marker)
      spark.range(1).collect()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    assert(seen.asScala.toSeq.contains("named spec job"), seen)
  }
}
