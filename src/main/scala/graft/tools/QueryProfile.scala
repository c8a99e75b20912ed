package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import scala.collection.mutable

/** Per-query optimization profiler (guide §1): splits a graded query's
  * wall-clock into Catalyst planning vs execution, and attributes
  * execution to Spark jobs/stages (count, duration, shuffle bytes) so an
  * optimization targets the stage that actually costs, not the one that
  * looks expensive in the plan.
  *
  * Runs under the EXACT bench session and warm-up (Bench.session(),
  * Bench.warmUp) so numbers are comparable to bench_full.json entries.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.QueryProfile <sfDir> <query>..."
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("g9_part_components")
    val spark = graft.Bench.session()

    // the bench's warm-up, so first-touch costs don't land in the
    // profiled query
    graft.Bench.warmUp(spark, dir).foreach(e => println(s"warm-up failed: $e"))

    final case class StageRow(id: Int, name: String, ms: Long, tasks: Int,
        shufRead: Long, shufWrite: Long, input: Long, rows: Long)
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)] // id, submit, end
    val stages = mutable.ArrayBuffer.empty[StageRow]
    val listener = new SparkListener {
      private val starts = mutable.Map.empty[Int, Long]
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts(j.jobId) = j.time
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobs += ((j.jobId, starts.getOrElse(j.jobId, j.time), j.time))
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val m = i.taskMetrics
        val ms = (for { a <- i.completionTime; b <- i.submissionTime } yield a - b).getOrElse(-1L)
        stages += StageRow(i.stageId, i.name.takeWhile(_ != '\n').take(90), ms,
          i.numTasks, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
          m.outputMetrics.recordsWritten)
      }
    }

    names.foreach { n =>
      // run twice: first run is charged codegen/JIT; report the second
      (0 to 1).foreach { rep =>
        jobs.clear(); stages.clear()
        // listener attached for the BUILD too: iterative/eager builders
        // (g9 star rounds, d8 label rounds, the t66 manifest's collected
        // literals) run real jobs before count() ever fires
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(n)(spark, dir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force analysis+optimization+planning
        val t2 = System.nanoTime()
        val buildJobs = jobs.size
        spark.sparkContext.setJobDescription(s"profile:$n")
        val cnt = df.count()
        val t3 = System.nanoTime()
        spark.sparkContext.removeSparkListener(listener)
        spark.catalog.clearCache()
        def s(a: Long, b: Long) = f"${(b - a) / 1e9}%.3f"
        println(f"== $n rep=$rep rows=$cnt build=${s(t0, t1)}s plan=${s(t1, t2)}s exec=${s(t2, t3)}s total=${s(t0, t3)}s jobs=${jobs.size} (build-phase jobs=$buildJobs) stages=${stages.size}")
        if (rep == 1) {
          val byTime = stages.sortBy(-_.ms).take(14)
          byTime.foreach { st =>
            println(f"   stage ${st.id}%4d ${st.ms}%6d ms tasks=${st.tasks}%3d in=${st.input / 1024}%8dK sr=${st.shufRead / 1024}%7dK sw=${st.shufWrite / 1024}%7dK  ${st.name}")
          }
          println(f"   stage-ms-sum=${stages.map(_.ms).filter(_ > 0).sum} over ${stages.size} stages; job walls: ${jobs.sortBy(_._1).map(j => j._3 - j._2).mkString(",")}")
        }
      }
    }
    spark.stop()
  }
}
