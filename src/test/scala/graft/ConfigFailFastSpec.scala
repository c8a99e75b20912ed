package graft

import graft.sinks.BatchedPatchSink
import org.apache.spark.sql.Row

/** Config validation matrix (reference config tests) + fail-fast sink
  * semantics (reference O4: first error aborts the batch).
  */
class ConfigFailFastSpec extends SparkSuite {
  import spark.implicits._

  test("config defaults match the reference's") {
    val cfg = GraftConfig.fromEnv(Map.empty).toOption.get
    assert(cfg.batchSize === 1)
    assert(cfg.datasetApiBatchSize === 1000)
    assert(cfg.datasetApiMaxWorkers === 100)
    assert(cfg.enablePatchNodeId)
  }

  test("config validation matrix") {
    assert(GraftConfig.fromEnv(Map("BATCH_SIZE" -> "0")).isLeft)
    assert(GraftConfig.fromEnv(Map("BATCH_SIZE" -> "abc")).isLeft)
    assert(GraftConfig.fromEnv(Map("DATASET_API_MAX_WORKERS" -> "-1")).isLeft)
    assert(GraftConfig.fromEnv(Map("ENABLE_PATCH_NODE_ID" -> "false"))
      .toOption.get.enablePatchNodeId === false)
  }

  test("SPARK_GRAFT_CPUS: a bad value fails naming the variable and the value") {
    assert(Bench.cpus(None) === 4)
    assert(Bench.cpus(Some("8")) === 8)
    assert(Bench.cpus(Some(" 2 ")) === 2)
    for (bad <- Seq("abc", "0", "-4", "", "4.5")) {
      val e = intercept[IllegalArgumentException](Bench.cpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("SPARK_GRAFT_SF_DIR: a missing directory fails naming the variable and the value") {
    assert(Bench.sfDir(None).endsWith("sf0.1"))
    assert(Bench.sfDir(Some(sf0001)) === sf0001)
    val file = java.nio.file.Files.createTempFile("sf-dir", ".parquet").toFile
    file.deleteOnExit()
    for (bad <- Seq(s"$sf0001-missing", file.toString, "")) {
      val e = intercept[IllegalArgumentException](Bench.sfDir(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_SF_DIR"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("SPARK_GRAFT_ONLY: names are trimmed; an unknown name fails naming the variable and the name") {
    assert(Bench.only(None) === None)
    assert(Bench.only(Some("a3_dedup_options, flagship_updates")) ===
      Some(Set("a3_dedup_options", "flagship_updates")))
    assert(Bench.only(Some("flagship_updates,")) === Some(Set("flagship_updates")))
    val e = intercept[IllegalArgumentException](
      Bench.only(Some("a3_dedup_options,no_such_query")))
    assert(e.getMessage.contains("SPARK_GRAFT_ONLY"), e.getMessage)
    assert(e.getMessage.contains("'no_such_query'"), e.getMessage)
    for (empty <- Seq("", " , ")) {
      val e = intercept[IllegalArgumentException](Bench.only(Some(empty)))
      assert(e.getMessage.contains("SPARK_GRAFT_ONLY"), e.getMessage)
    }
  }

  test("secrets are redacted from toString") {
    val cfg = GraftConfig.fromEnv(Map("SERVICE_AUTH_TOKEN" -> "sekrit")).toOption.get
    assert(!cfg.toString.contains("sekrit"))
    assert(cfg.toString.contains("<redacted>"))
  }

  test("patch sink fails fast: a failing client aborts the job (O4 parity)") {
    val failing = new BatchedPatchSink.PatchClient {
      def patch(updates: Seq[Row], ifMatch: String): String =
        throw new RuntimeException("downstream PATCH rejected")
    }
    val updates = (1 to 10).map(i => (s"i$i", s"o$i")).toDF("instance_id", "option")
    val ex = intercept[org.apache.spark.SparkException] {
      BatchedPatchSink.write(updates, batchSize = 3, failing)
    }
    assert(ex.getMessage.contains("PATCH rejected") ||
      Option(ex.getCause).exists(_.getMessage.contains("PATCH rejected")))
  }
}
