package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamDrift

/** Pins for the streaming drift twin: the emitted daily cells equal
  * the batch daily histogram (set equality, single emission) under
  * arbitrary micro-batch splits and arrival orders, drift derived
  * from the stream's cells equals the batch entry bit-for-bit, and
  * state stays bucket-bounded with in-flight-days-only pruning.
  */
class StreamDriftSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val DayMs = 86400000L

  private type Ev = (Int, Long, Long) // b, day, event_time_ms

  private def replay(rows: Seq[Ev], chunks: Int,
      delay: String): (Seq[(Long, Int, Long)], Long) = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Int, Long, Long)]
    val name = s"stream_drift_${System.nanoTime()}"
    val q = StreamDrift.dailyCells(
      input.toDF().toDF("b", "day", "ms")
        .select(col("b"), col("day"),
          (col("ms") / 1000.0).cast("timestamp").as("event_time")),
      watermark = delay)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    var stateRows = -1L
    try {
      rows.grouped(math.max(1, (rows.size + chunks - 1) / chunks))
        .foreach { c => input.addData(c: _*); q.processAllAvailable() }
      // sentinel on an unused bucket: completes every real day
      val farDay = rows.map(_._2).max + 40L
      input.addData((255, farDay, farDay * DayMs + 1000L))
      q.processAllAvailable()
      input.addData((255, farDay, farDay * DayMs + 2000L))
      q.processAllAvailable()
      val p = q.lastProgress
      if (p != null && p.stateOperators.nonEmpty)
        stateRows = p.stateOperators(0).numRowsTotal
    } finally q.stop()
    val out = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    spark.catalog.dropTempView(name)
    (out, stateRows)
  }

  /** Batch reference: the daily histogram itself. */
  private def brute(rows: Seq[Ev]): Set[(Long, Int, Long)] =
    rows.groupBy(e => (e._2, e._1))
      .map { case ((d, b), v) => (d, b, v.size.toLong) }.toSet

  private def randomRows(seed: Int, n: Int): Seq[Ev] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n) {
      val day = rnd.nextInt(15).toLong
      val b = rnd.nextInt(12)
      (b, day, day * DayMs + 1000L + rnd.nextInt(1000) * 1000L)
    }
  }

  test("emitted daily cells equal the batch histogram under arbitrary " +
    "splits, each cell exactly once") {
    val rows = randomRows(41, 500).sortBy(_._3)
    val want = brute(rows)
    for (chunks <- Seq(1, 4, 9)) {
      val (got, _) = replay(rows, chunks, delay = "0 seconds")
      assert(got.size == got.toSet.size, s"chunks=$chunks duplicate cells")
      assert(got.toSet == want, s"chunks=$chunks diverges from batch")
    }
  }

  test("random arrival order with a lateness window that admits " +
    "everything still equals batch") {
    val rnd = new scala.util.Random(17)
    val rows = rnd.shuffle(randomRows(23, 400))
    val (got, _) = replay(rows, 6, delay = "30 days")
    assert(got.toSet == brute(rows))
  }

  test("drift from the stream's cells equals the batch entry " +
    "bit-for-bit at sf0.001, state prunes to in-flight days") {
    Engine.configure(spark)
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val raw = Engine.table(spark, d, "events")
      .selectExpr("(ts - ts % 1000) div 86400000000000 AS day",
        "cast(least(greatest(floor(value / 2.0), 0), 255) as int) AS b",
        "(ts - ts % 1000) div 1000000 AS ms")
      .collect().map(r => (r.getInt(1), r.getLong(0), r.getLong(2)))
      .sortBy(_._3).toSeq
    val (cells, stateRows) = replay(raw, 8, delay = "0 seconds")
    val fromStream = StreamDrift.driftFromCells(
        cells.toDF("day", "b", "mc"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val entry = SparkEntry.queries("stat_drift_tvd")(spark, d)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(fromStream.toSeq == entry.toSeq)
    // in-flight pruning: after the sentinel completes every day, only
    // the sentinel's own key can remain
    assert(stateRows >= 0 && stateRows <= 1,
      s"state $stateRows not pruned to in-flight days")
  }
}
