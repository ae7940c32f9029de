package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{FileReplay, StreamTwins}

/** [[Bench.rows]] is the one row table the bench and the profiler read:
  * every registry entry, the ten organic rows and the ten stream rows,
  * each once. Timing a subset follows the bench protocol; a throwing
  * row is an error; an unknown name is rejected before anything runs.
  */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val replays = mutable.Map.empty[String, String]
  private lazy val rows = Bench.rows(spark, TestSpark.sf, replays)

  test("row names are unique") {
    val names = rows.map(_.name)
    assert(names.distinct == names)
  }

  test("every registry entry and stream twin is a row, plus 10 organic rows") {
    assert(rows.size == SparkEntry.all.size + 20)
    val names = rows.map(_.name).toSet
    assert(SparkEntry.all.forall(q => names(q.name)))
    assert(StreamTwins.all.forall(t => names(s"organic_stream_${t.name}")))
  }

  test("a registry row and a stream row time ok over two passes") {
    Engine.configure(spark)
    try {
      val ts = Bench.time(spark,
        Bench.select(rows, Seq("q1_pricing", "organic_stream_cms")))
      assert(ts.map(_.name) == Seq("q1_pricing", "organic_stream_cms"))
      assert(ts.forall(t => t.ok && t.seconds > 0))
      assert(ts.head.meta.isEmpty)
      assert(ts(1).meta.exists(m => m.batches > 0 && m.inputRows > 0))
    } finally replays.values.foreach(FileReplay.drop)
  }

  test("a row that throws is recorded as an error") {
    val boom = Bench.Row("boom", () => throw new IllegalStateException("boom"))
    val Seq(t) = Bench.time(spark, Seq(boom))
    assert(t.name == "boom" && !t.ok && t.meta.isEmpty)
    assert(t.failure.exists(_.getMessage == "boom"))
  }

  test("an unknown row name is rejected and named") {
    val e = intercept[IllegalArgumentException](
      Bench.select(rows, Seq("q1_pricing", "no_such_row")))
    assert(e.getMessage.contains("no_such_row"))
    assert(!e.getMessage.contains("q1_pricing"))
  }
}
