package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** Streaming DISTRIBUTION DRIFT — the incremental twin of
  * [[graft.operators.StatOps.driftTvdEntry]] (eighth streaming twin;
  * SURVEY.md section 2.8): value events arrive bucketed (day, bucket)
  * and the operator emits each day's FULL histogram cell
  * (day, bucket, count) exactly once, when the watermark completes
  * the day — [[StreamQuantiles.mergedCells]] with a 1-day window, so
  * the emission/watermark/lateness discipline is shared code, not a
  * re-implementation. State per bucket key is pruned to in-flight
  * days only (no 7-day tail), ≤ 256 keys regardless of corpus size.
  *
  * TVD/L∞ vs the baseline day then follow from the emitted cells by
  * the SAME stateless pass the batch entry runs
  * ([[graft.operators.StatOps.driftFromDaily]]) — the twin's output
  * IS the batch entry's checkpointed daily summary, arriving
  * incrementally. The baseline (min day) is resolved in that pass,
  * not in-stream: a per-bucket key cannot know the GLOBAL first day
  * (a bucket whose first datum arrives on day 5 would otherwise
  * adopt a wrong local baseline), and pinning baseline selection in
  * the stateless half keeps the streaming state strictly
  * cell-bounded.
  */
object StreamDrift {

  /** Exactly-once daily histogram cells (day, b, c) over a
    * (b: int, day: long, event_time: timestamp) stream.
    */
  def dailyCells(tagged: DataFrame,
      watermark: String): Dataset[StreamQuantiles.QCell] =
    StreamQuantiles.mergedCells(tagged, watermark, window = 1)

  /** Batch-identical drift from collected/emitted cells: rename the
    * twin's mc to the summary's c and run the shared stateless pass.
    * The cells relation (≤ days×256 rows) is checkpointed first —
    * the drift pass self-joins its input several times, and leaf
    * plans like a memory-sink view carry attributes Spark cannot
    * deduplicate across self-join arms (the batch entry's summary is
    * a checkpoint for the same reason).
    */
  def driftFromCells(cells: DataFrame): DataFrame =
    graft.operators.StatOps.driftFromDaily(
      graft.Engine.materialize(cells.withColumnRenamed("mc", "c")))
}
