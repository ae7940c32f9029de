package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.Engine

/** The ten streaming twins' replay rows, defined once: Bench's
  * `organic_stream_*` rows (which `tools/Profile` also runs) and
  * `tools/ScaleSweep` iterate [[all]] and drive each entry through
  * [[run]].
  *
  * A row replays its batch-side source as a [[FileReplay]] dir (8
  * chunks in replay order, one per micro-batch — the driver never
  * holds the corpus), builds the twin's stream over it and drains it
  * into a memory sink.
  */
object StreamTwins {

  /** One twin: `key` names its replay dir (twins sharing a key share
    * one dir), `order` is the replay order, `source` the batch-side
    * input of `(spark, sfDir)`, `stream` the twin over the replayed
    * source (side inputs read from `sfDir`), `mode` the sink output
    * mode, and `emitted` counts the memory-sink view inside the timed
    * region.
    */
  final case class Twin(name: String, key: String, order: Seq[String],
      source: (SparkSession, String) => DataFrame,
      stream: (DataFrame, String) => DataFrame,
      mode: String,
      emitted: DataFrame => Long = _.count())

  /** Per-row micro-batch accounting (BENCH_FULL.json `stream_meta`):
    * batch count, summed `triggerExecution` ms, input rows, the first
    * state operator's final row count (-1 without state), emitted
    * rows, and the raw progress records behind them.
    */
  final case class Meta(batches: Long, triggerMs: Long, inputRows: Long,
      stateRows: Long, emitted: Long, progress: Seq[StreamingQueryProgress]) {
    def json: String =
      s"""{"batches":$batches,"trigger_ms":$triggerMs,""" +
        s""""input_rows":$inputRows,"state_rows":$stateRows,"emitted":$emitted}"""
  }

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Engine.table(spark, sfDir, "documents").selectExpr("doc_id", "text")

  // events bucketed map-side with the SHARED clamped valueBucket (same
  // domain rule as the batch entries and their oracle); rquantiles and
  // drift replay the same dir
  private def buckets(spark: SparkSession, sfDir: String): DataFrame =
    Engine.table(spark, sfDir, "events")
      .select(
        graft.operators.StatOps.valueBucket(col("value")).as("b"),
        expr("(ts - ts % 1000) div 86400000000000").as("day"),
        expr("(ts - ts % 1000) div 1000000").as("ms"))

  private def bucketsTagged(src: DataFrame): DataFrame =
    src.select(col("b"), col("day"),
      (col("ms") / 1000.0).cast("timestamp").as("event_time"))

  val all: Seq[Twin] = Seq(
    // MinHash star over the corpus; state is bucket-bounded
    Twin("neardedup", "neardedup", Seq("doc_id"), docs,
      (src, _) => StreamNearDedup.starEdges(src).toDF(), "append"),
    // clicks enriched with the latest view per user; state is per-key
    // dominant-right + in-flight lefts, not history
    Twin("asof", "asof", Seq("ms", "id"),
      (spark, sfDir) => Engine.table(spark, sfDir, "events")
        .filter(col("event_type").isin("click", "view"))
        .select(col("user_id").as("key"), col("event_id").as("id"),
          when(col("event_type") === "click", 1).otherwise(0).as("side"),
          (col("ts") / 1000000L).cast("long").as("ms")),
      (src, _) => StreamAsof.asofMatches(
        src.select(col("key"), col("id"), col("side"),
          (col("ms") / 1000.0).cast("timestamp").as("event_time")),
        watermark = "0 seconds").toDF(),
      "append"),
    // count-min sketch; state is bounded by the 256 sketch cells
    Twin("cms", "cms", Seq("doc_id"), docs,
      (src, _) => StreamHeavyHitters.cells(src).toDF(), "update"),
    // the snapshot_merge changelog derivation at sf scale (several ops
    // per key); state is one row per distinct key
    Twin("changelog", "changelog", Seq("seq", "key"),
      (spark, sfDir) => {
        val d = Engine.table(spark, sfDir, "documents")
          .selectExpr("doc_id", "substring(text, 1, 32) AS t")
        d.select(col("doc_id").as("key"), lit(1L).as("seq"),
            lit("upsert").as("op"), col("t").as("payload"))
          .unionAll(d.filter(col("doc_id") % 5 === 0)
            .select(col("doc_id").as("key"), lit(2L).as("seq"),
              lit("upsert").as("op"), upper(col("t")).as("payload")))
          .unionAll(d.filter(col("doc_id") % 7 === 0)
            .select(col("doc_id").as("key"), lit(3L).as("seq"),
              lit("delete").as("op"), lit("").as("payload")))
      },
      (src, _) => StreamChangelog.resolved(src).toDF(), "update"),
    // every event as a 60 s activity interval vs +-10 min incident
    // windows around high-value errors; state is live buckets only
    Twin("interval", "interval", Seq("end", "side", "id"),
      (spark, sfDir) => {
        val ev = Engine.table(spark, sfDir, "events")
          .selectExpr("event_id", "(ts - ts % 1000) AS tsn",
            "event_type", "value")
        val a = ev.selectExpr("event_id AS id", "0 AS side",
          "tsn AS start", "tsn + 60000000000 AS end")
        val b = ev.filter("event_type = 'error' AND value >= 200.0")
          .selectExpr("event_id AS id", "1 AS side",
            "tsn - 600000000000 AS start", "tsn + 600000000000 AS end")
        a.unionAll(b)
      },
      (src, _) => StreamInterval.overlapMatches(
        src.select(col("id"), col("side"), col("start"), col("end"),
          (col("end") / 1.0e9).cast("timestamp").as("event_time")),
        watermark = "0 seconds", shift = 40, maxBuckets = 4).toDF(),
      "append"),
    // rolling-quantile histograms; state is 256 buckets x ~7 live days
    Twin("rquantiles", "rquantiles", Seq("ms", "b"), buckets,
      (src, _) => StreamQuantiles.mergedCells(bucketsTagged(src),
        watermark = "0 seconds").toDF(),
      "append"),
    // exactly-once daily cells plus the batch-identical stateless TVD
    // pass over them (run inside the timed region; emitted counts the
    // CELLS); state prunes to in-flight days
    Twin("drift", "rquantiles", Seq("ms", "b"), buckets,
      (src, _) => StreamDrift.dailyCells(bucketsTagged(src),
        watermark = "0 seconds").toDF(),
      "append",
      cells => { StreamDrift.driftFromCells(cells).count(); cells.count() }),
    // per-user conversion rows emitted watermark-final; state is users
    // + in-flight buffers
    Twin("funnel", "funnel", Seq("ms", "user_id"),
      (spark, sfDir) => Engine.table(spark, sfDir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts - ts % 1000").as("tsn"),
          expr("(ts - ts % 1000) div 1000000").as("ms")),
      (src, _) => StreamFunnel.conversions(
        src.select(col("user_id"), col("event_type"), col("tsn"),
          timestamp_micros(expr("tsn div 1000")).as("event_time")),
        Seq("signup", "view", "click", "purchase"),
        2L * 86400000000000L, watermark = "0 seconds").toDF(),
      "append"),
    // one finished daily bar per day at watermark completion,
    // batch-equal to events_ohlc; state is in-flight days only
    Twin("ohlc", "ohlc", Seq("tsn", "event_id"),
      (spark, sfDir) => Engine.table(spark, sfDir, "events")
        .select(col("event_id"), expr("ts - ts % 1000").as("tsn"),
          col("value")),
      (src, _) => StreamOhlc.dailyBars(
        src.select(expr("tsn div 86400000000000").as("day"),
          col("tsn"), col("event_id"), col("value"),
          timestamp_micros(expr("tsn div 1000")).as("event_time")),
        watermark = "0 seconds").toDF(),
      "append"),
    // the shard (doc_id%5==0, %97!=0) quality-filtered map-side and
    // anti-joined against the standing corpus's fp set, survivors
    // deduped in keyed state. The standing set never changes inside
    // the row, so it is checkpointed once and frozen into ONE broadcast
    // set (snapshotStatic) instead of a per-micro-batch broadcast
    // rebuild, which the per-trigger profile measured as the slowest
    // per-trigger fixed cost.
    Twin("ingest", "ingest", Seq("doc_id"),
      (spark, sfDir) => Engine.table(spark, sfDir, "documents")
        .filter(col("doc_id") % 5 === 0 && col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("source"), col("lang"), col("text")),
      (src, sfDir) => {
        val standing = Engine.materialize(
          Engine.table(src.sparkSession, sfDir, "documents")
            .filter(col("doc_id") % 5 =!= 0)
            .select(graft.operators.CorpusOps.docFp(col("text")).as("fp"))
            .distinct())
        StreamIngest.survivors(src, standing, snapshotStatic = true).toDF()
      },
      "append"))

  /** The entry named `name`. */
  def apply(name: String): Twin = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown twin $name (known: ${all.map(_.name).mkString(" ")})"))

  /** Run one twin's replay row to completion and account for it.
    * The replay dir comes from `replays` (keyed by [[Twin.key]]) and is
    * written there on first use, so a caller running rows twice
    * replays the same chunks; the caller drops the dirs.
    *
    * State partitioning is sized to the twins' key cardinality (8, not
    * the batch-side default) for the row and restored after it: a
    * micro-batch pays per-partition state-store commit/snapshot file
    * ops every trigger, and at 1.5k-77k state rows 32 partitions is
    * pure fixed overhead (measured on the as-of row: 18.5 s at 32 ->
    * 5.7 s at 8, same 19,863 emissions). The outputs are
    * partitioning-independent (the twin specs pin them).
    */
  def run(spark: SparkSession, sfDir: String, twin: Twin,
      replays: mutable.Map[String, String]): Meta = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val dir = replays.getOrElseUpdate(twin.key,
        FileReplay.write(twin.source(spark, sfDir), twin.order))
      val name = s"twin_${twin.name}_${System.nanoTime()}"
      val q = twin.stream(FileReplay.read(spark, dir), sfDir)
        .writeStream.format("memory").queryName(name)
        .outputMode(twin.mode).start()
      try {
        q.processAllAvailable()
        val ps = q.recentProgress.toSeq
        val last = q.lastProgress
        val state =
          if (last != null && last.stateOperators.nonEmpty)
            last.stateOperators(0).numRowsTotal
          else -1L
        val trig = ps.map(p =>
          Option(p.durationMs.get("triggerExecution"))
            .map(_.longValue()).getOrElse(0L)).sum
        Meta(ps.length.toLong, trig, ps.map(_.numInputRows).sum, state,
          twin.emitted(spark.table(name)), ps)
      } finally {
        q.stop()
        spark.catalog.dropTempView(name)
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
