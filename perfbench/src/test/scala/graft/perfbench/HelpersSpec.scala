package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  // the benchmark's own session; build.sbt sets its CPU count for tests
  private lazy val spark = graft.Bench.session()

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  test("percentile interpolates between closest ranks") {
    assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) === 2.5)
    assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 0.0) === 1.0)
    assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 1.0) === 4.0)
    assert(near(Stats.percentile((1 to 100).map(_.toDouble), 0.99), 99.01))
    assert(Stats.median(Seq(7.0)) === 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    intercept[IllegalArgumentException](Stats.percentile(Seq.empty, 0.5))
    intercept[IllegalArgumentException](Stats.percentile(Seq(1.0), 1.5))
  }

  test("geomean of positive values") {
    assert(near(Stats.geomean(Seq(1.0, 100.0)), 10.0))
    assert(near(Stats.geomean(Seq(2.0, 8.0, 4.0)), 4.0))
    assert(near(Stats.geomean(Seq(0.25)), 0.25))
    intercept[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
    intercept[IllegalArgumentException](Stats.geomean(Seq.empty))
  }

  test("each tick maps to the first progress report whose end offset covers it") {
    // an idle report before any data (offset -1), two batches, reports out of order
    val reports = Seq((5L, 20.0), (-1L, 1.0), (2L, 10.0), (5L, 30.0))
    assert(Stats.coveringTimes(7, reports) ===
      IndexedSeq(Some(10.0), Some(10.0), Some(10.0), Some(20.0), Some(20.0), Some(20.0), None))
    assert(Stats.coveringTimes(2, Seq.empty) === IndexedSeq(None, None))
  }

  test("backlog counts events sent but not covered when a batch reports") {
    val sinks = graft.streaming.ImporterStream.Sinks("unused")
    val window = Span(0, "ingest", -1, "r", 0.0, 100.0)
    def report(at: Double, end: Long) = Progress(at, end, null)
    // 4 ticks of 10 events sent at t = 0, 10, 20, 30
    val run = IngestRun(40, 4, window, Nil, 0, 0.0, 0,
      Seq(report(15.0, 0L), report(35.0, 3L)), Seq(0.0, 10.0, 20.0, 30.0), sinks)
    // at t = 15: 2 ticks sent, 1 covered → 10 events; at t = 35: 4 sent, 4 covered → 0
    assert(Layers.backlogMax(run) === 10.0)
  }

  test("content hash: row count plus a digest of every column, blind to order and partitioning") {
    import spark.implicits._
    val rows = Seq((1, "a", 1.5, Seq(1L, 2L)), (2, "b", 2.5, Seq.empty[Long]), (3, null, -0.5, Seq(3L)))
    val df = rows.toDF("k", "s", "d", "arr")
    val base = ContentHash.of(df)
    assert(base.rows === 3)
    assert(ContentHash.of(rows.reverse.toDF("k", "s", "d", "arr").repartition(3)) === base)
    // a change in any one column, even one a count() would prune, changes the digest
    assert(ContentHash.of(rows.updated(1, (2, "b", 2.5, Seq(9L))).toDF("k", "s", "d", "arr")).hash !== base.hash)
    assert(ContentHash.of(rows.updated(2, (3, "c", -0.5, Seq(3L))).toDF("k", "s", "d", "arr")).hash !== base.hash)
    // a duplicated row is a different multiset
    val dup = ContentHash.of((rows :+ rows.head).toDF("k", "s", "d", "arr"))
    assert(dup.rows === 4)
    assert(dup.hash !== base.hash)
    // nested and map types digest too
    val nested = spark.range(5).selectExpr("id", "named_struct('x', id, 'm', map('k', id)) AS st")
    assert(ContentHash.of(nested) === ContentHash.of(nested.orderBy($"id".desc)))
    assert(ContentHash.of(spark.range(0).toDF()) === Digest(0, "0" * 32))
  }
}
