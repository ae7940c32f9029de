package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupOps, GraphOps}
import graft.streaming.StreamNearDedup

/** Streaming MinHash-LSH near-dup: batch equivalence of the stateful
  * star emission. The edge set may differ from the batch star (members
  * link to the min seen at arrival), but the transitive closure must
  * be IDENTICAL for any micro-batch split — and exactly equal in the
  * single-batch case.
  */
object StreamNearDedupSpec {
  // top-level so Spark can build an encoder without an outer scope
  final case class Doc(doc_id: Long, text: String)
  final case class TDoc(doc_id: Long, text: String,
      event_time: java.sql.Timestamp)
}

class StreamNearDedupSpec extends AnyFunSuite {
  import StreamNearDedupSpec.Doc
  private lazy val spark = TestSpark.spark

  private lazy val docs: Seq[Doc] = {
    Engine.configure(spark)
    Engine.table(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("text")).limit(400)
      .collect().map(r => Doc(r.getLong(0), r.getString(1))).toSeq
  }

  private def streamEdges(chunks: Seq[Seq[Doc]], name: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Doc]
    val q = StreamNearDedup.starEdges(input.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      for (c <- chunks) { input.addData(c: _*); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name)
  }

  private def comps(edges: DataFrame): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.connectedComponents(
      edges.select(col("doc_a").as("x"), col("doc_b").as("y")).distinct(),
      DedupOps.CcRounds)
      .as[(Long, Long)].collect().toMap
  }

  test("single micro-batch emits exactly the batch star edges") {
    import spark.implicits._
    val got = streamEdges(Seq(docs), "snd_one")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val want = DedupOps.minhashStarEdgesOf(docs.toDF("doc_id", "text"))
      .as[(Long, Long)].collect().toSet
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("3-way split: connectivity identical to the batch star") {
    import spark.implicits._
    val chunks = docs.grouped((docs.size + 2) / 3).toSeq
    val streamed = comps(streamEdges(chunks, "snd_three"))
    val batch = comps(DedupOps.minhashStarEdgesOf(docs.toDF("doc_id", "text")))
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("out-of-order arrival (descending ids) still converges to the same clusters") {
    import spark.implicits._
    val desc = docs.sortBy(-_.doc_id)
    val chunks = desc.grouped((desc.size + 1) / 2).toSeq
    val streamed = comps(streamEdges(chunks, "snd_desc"))
    val batch = comps(DedupOps.minhashStarEdgesOf(docs.toDF("doc_id", "text")))
    assert(streamed === batch)
  }

  test("horizon variant: state ages out, far-apart twins stop linking") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamNearDedupSpec.TDoc
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val twinText = "identical twin document body with enough words to shingle"
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    def run(name: String, chunks: Seq[Seq[TDoc]]): Set[(Long, Long)] = {
      val input = MemoryStream[TDoc]
      val q = graft.streaming.StreamNearDedup
        .starEdgesWithHorizon(input.toDF(), "1 minute")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        for (c <- chunks) { input.addData(c: _*); q.processAllAvailable() }
      } finally q.stop()
      spark.table(name).select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSet
    }
    // twin at t0; an unrelated filler at t+10min advances the watermark
    // past the bucket's 1-minute timeout; the late twin at t+11min gets
    // a FRESH bucket — no edge to doc 1
    val far = run("snd_h1", Seq(
      Seq(TDoc(1L, twinText, ts(0))),
      Seq(TDoc(50L, "totally unrelated filler words nothing shared here at all", ts(10))),
      Seq(TDoc(2L, twinText, ts(11)))))
    assert(!far.contains((1L, 2L)), far.toString)
    // control: the same twins INSIDE the horizon do link
    val near = run("snd_h2", Seq(
      Seq(TDoc(1L, twinText, ts(0))),
      Seq(TDoc(2L, twinText, ts(0))))) // same batch window
    assert(near.contains((1L, 2L)), near.toString)
  }

  test("watermark jump past horizon with a marginally-late row does not crash") {
    // Spark admits rows against the PREVIOUS batch's watermark but
    // validates setTimeoutTimestamp against the CURRENT (eviction) one.
    // With no-data micro-batches disabled (so no empty rerun batch syncs
    // the two between chunks — the back-to-back shape of a continuously
    // fed production stream), a batch whose predecessor advanced the
    // watermark 29 minutes admits a row at t+1min against the old
    // watermark; unclamped `max event time + horizon` is then at/below
    // the eviction watermark and GroupStateImpl kills the whole query
    // with IllegalArgumentException. The clamp to
    // max(maxEventTime, currentWatermarkMs) keeps the timeout ahead.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamNearDedupSpec.TDoc
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val twinText = "identical twin document body with enough words to shingle"
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val input = MemoryStream[TDoc]
      val q = graft.streaming.StreamNearDedup
        .starEdgesWithHorizon(input.toDF(), "1 minute")
        .writeStream.format("memory").queryName("snd_wmjump")
        .outputMode("append").start()
      try {
        for (c <- Seq(
            Seq(TDoc(1L, twinText, ts(0))),
            Seq(TDoc(50L, "totally unrelated filler words nothing shared here at all", ts(30))),
            Seq(TDoc(2L, twinText, ts(1))))) {
          input.addData(c: _*); q.processAllAvailable()
        }
      } finally q.stop()
      val got = spark.table("snd_wmjump").select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSet
      // the late twin was admitted (old watermark) and its bucket state
      // had not been evicted (no rerun batch ran the timeout phase), so
      // the edge is emitted — the crash, not the linkage, is the subject
      assert(got.contains((1L, 2L)), got.toString)
    } finally spark.conf.set(key, prev)
  }

  test("re-arrival of the stored representative emits no duplicate edges") {
    // state ++ arrived would contain the rep's doc_id twice when it
    // re-arrives (a re-crawl); a superseding new min then emits the
    // (newMin, oldRep) edge TWICE per bucket in one micro-batch. After
    // the distinct: identical twins collide in all 16 bands, so the
    // edge appears exactly 16 times in append output — once per bucket.
    import spark.implicits._
    val twinText = "identical twin document body with enough words to shingle"
    val rows = streamEdges(Seq(
      Seq(Doc(5L, twinText)),
      Seq(Doc(5L, twinText), Doc(3L, twinText))), "snd_rearrive")
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(rows.toSet === Set((3L, 5L)), rows.toSeq.toString)
    assert(rows.length === 16, s"expected one edge per band bucket, got ${rows.length}")
  }

  private def streamSimEdges(chunks: Seq[Seq[Doc]], name: String): DataFrame = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Doc]
    val q = StreamNearDedup.simhashStarEdges(input.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      for (c <- chunks) { input.addData(c: _*); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name)
  }

  test("simhash twin: single micro-batch emits exactly the batch star edges") {
    import spark.implicits._
    val got = streamSimEdges(Seq(docs), "snd_sim_one")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val want = DedupOps.simhashStarEdgesOf(
      DedupOps.simhashBandify(docs.toDF("doc_id", "text")))
      .as[(Long, Long)].collect().toSet
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("simhash horizon variant: ages out past the horizon, links inside it, survives watermark jumps") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamNearDedupSpec.TDoc
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val twinText = "identical twin document body with enough words to shingle"
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    def run(name: String, chunks: Seq[Seq[TDoc]]): Set[(Long, Long)] = {
      val input = MemoryStream[TDoc]
      val q = StreamNearDedup.simhashStarEdgesWithHorizon(input.toDF(), "1 minute")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        for (c <- chunks) { input.addData(c: _*); q.processAllAvailable() }
      } finally q.stop()
      spark.table(name).select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSet
    }
    // state ages out: far-apart twins do not link
    val far = run("snd_sh_h1", Seq(
      Seq(TDoc(1L, twinText, ts(0))),
      Seq(TDoc(50L, "totally unrelated filler words nothing shared here at all", ts(10))),
      Seq(TDoc(2L, twinText, ts(11)))))
    assert(!far.contains((1L, 2L)), far.toString)
    // control: twins inside the horizon link (Hamming 0)
    val near = run("snd_sh_h2", Seq(
      Seq(TDoc(1L, twinText, ts(0))),
      Seq(TDoc(2L, twinText, ts(0)))))
    assert(near.contains((1L, 2L)), near.toString)
    // watermark jump with a marginally-late row must not crash (the
    // same clamp as the minhash horizon variant; back-to-back batches)
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val jump = run("snd_sh_h3", Seq(
        Seq(TDoc(1L, twinText, ts(0))),
        Seq(TDoc(50L, "totally unrelated filler words nothing shared here at all", ts(30))),
        Seq(TDoc(2L, twinText, ts(1)))))
      assert(jump.contains((1L, 2L)), jump.toString)
    } finally spark.conf.set(key, prev)
  }

  test("simhash twin: every streamed edge is Hamming-verified, twins link across batches") {
    import spark.implicits._
    val chunks = docs.grouped((docs.size + 2) / 3).toSeq
    val edges = streamSimEdges(chunks, "snd_sim_three")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(edges.nonEmpty)
    // every edge within Hamming <= 6 of both endpoints' full simhashes —
    // the chance-collision safety the 16-bit buckets alone cannot give
    val sh = DedupOps.simhashBandify(docs.toDF("doc_id", "text"))
      .select(col("doc_id"), col("sh")).distinct()
      .as[(Long, Long)].collect().toMap
    edges.foreach { case (a, b) =>
      val d = java.lang.Long.bitCount(sh(a) ^ sh(b))
      assert(d <= 6, s"edge ($a,$b) at Hamming $d")
    }
    // identical twins split across micro-batches still land in one
    // component (the rep-chain edge verifies at Hamming 0)
    val twinText = "identical twin document body with enough words to shingle"
    val twinEdges = streamSimEdges(Seq(
      Seq(Doc(900001L, twinText)),
      Seq(Doc(900002L, twinText))), "snd_sim_twin")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(twinEdges.contains((900001L, 900002L)), twinEdges.toString)
  }
}
