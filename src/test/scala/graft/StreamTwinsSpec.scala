package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{FileReplay, StreamDrift, StreamTwins}

/** Every [[StreamTwins]] entry at sf0.001 through [[StreamTwins.run]],
  * the path Bench's `organic_stream_*` rows, Profile and ScaleSweep
  * share: the row completes, every replay chunk is read by exactly one
  * micro-batch (a watermarked twin adds at most one trailing no-data
  * batch that advances the watermark), and the replay loses no source
  * rows. The drift entry also runs the stateless TVD pass over the
  * memory-sink view, which needs driftFromCells' checkpoint: the view's
  * attributes cannot be deduplicated across the self-join's arms.
  */
class StreamTwinsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = TestSpark.sf

  test("twin names are unique") {
    val names = StreamTwins.all.map(_.name)
    assert(names.distinct == names)
  }

  for (t <- StreamTwins.all)
    test(s"${t.name}: completes, a batch per chunk, no row lost") {
      Engine.configure(spark)
      var drift = -1L
      val twin = if (t.name != "drift") t else t.copy(emitted = cells => {
        drift = StreamDrift.driftFromCells(cells).count()
        t.emitted(cells)
      })
      val replays = collection.mutable.Map.empty[String, String]
      try {
        val m = StreamTwins.run(spark, sfDir, twin, replays)
        val chunks = new java.io.File(replays(t.key)).listFiles()
          .count(_.getName.startsWith("part-"))
        val reading = m.progress.count(_.numInputRows > 0)
        assert(chunks > 1)
        assert(reading == chunks)
        assert(m.batches - reading <= 1, s"${m.batches} batches")
        assert(m.inputRows == t.source(spark, sfDir).count())
        if (t.name == "drift") assert(drift > 0)
      } finally replays.values.foreach(FileReplay.drop)
    }
}
