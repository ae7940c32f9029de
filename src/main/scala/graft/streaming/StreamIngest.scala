package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.CorpusOps

/** Streaming INCREMENTAL INGEST — the continuous twin of
  * [[graft.operators.CorpusOps.pipelineIncremental]]'s stage 1..3
  * (seventh streaming twin; SURVEY.md section 2.8): a continuously
  * arriving shard of raw documents is cleaned against the STANDING
  * corpus, emitting each new-content survivor exactly once.
  *
  *  1. quality filter — map-side, stateless: the SHARED
  *     [[CorpusOps.ingestProjection]] + [[CorpusOps.ingestQuality]]
  *     expressions (one definition with the batch pipeline, so the
  *     two paths cannot drift);
  *  2. standing-corpus dedup — a stream-static LEFT ANTI join of the
  *     shard's fingerprints against the standing fp set. The static
  *     side is a fingerprint PROJECTION (in production a maintained
  *     table or block Bloom — the [[StreamSnapshotDedup]] scale
  *     note), re-planned per micro-batch and broadcast when it fits;
  *  3. in-stream survivor dedup — keyed state per fingerprint: the
  *     FIRST arriving document of each novel fp is emitted (ties
  *     inside one micro-batch break to the smallest doc_id), later
  *     copies are dropped. Replayed in doc_id order this equals the
  *     batch window's min-doc_id survivor for ANY micro-batch split
  *     (StreamIngestSpec pins set equality with the batch stage-1..3
  *     relation); under arbitrary arrival order the surviving fp SET
  *     is still batch-identical (fp is a pure row function).
  *
  * State = one seen-marker per distinct SURVIVING fingerprint — the
  * novel-content working set of the ingest (bench stream_meta records
  * it), never the shard volume: duplicate-heavy streams keep state
  * flat. Nothing ages out because exact ingest dedup must remember
  * every admitted fingerprint; production bounds it by sharding the
  * standing set into the static side as fps graduate (a daily compact
  * folds stream state into the standing fp table).
  */
object StreamIngest {

  /** A cleaned shard survivor: the batch pipeline's stage-1..3 output
    * row. Not private — the state encoder's generated code must reach
    * it (the [[StreamAsof.Buf]] rationale).
    */
  final case class Survivor(fp: String, doc_id: Long, source: String,
      lang: String, ntok: Int)

  private def step(fp: String, rows: Iterator[Survivor],
      state: GroupState[Boolean]): Iterator[Survivor] = {
    if (state.exists || rows.isEmpty) Iterator.empty
    else {
      state.update(true)
      Iterator.single(rows.minBy(_.doc_id))
    }
  }

  /** Survivors of a streaming (doc_id, source, lang, text) shard
    * cleaned against `standingFp` (a static 1-column `fp` relation).
    * Append mode; each novel fingerprint's first document is emitted
    * exactly once.
    *
    * `snapshotStatic = true` freezes the standing fp set ONCE into a
    * broadcast variable and dedups with an exact map-side set filter:
    * the default stream-static LEFT ANTI join re-builds its broadcast
    * (collect + hash relation + serialize) EVERY micro-batch — pure
    * fixed per-trigger cost on a side that never changes (r15
    * per-trigger profile: ~0.7 s/trigger on a 99k-fp standing side, the
    * slowest-twin profile). Identical semantics to the anti-join
    * (null fps pass, like a null anti-join key); only valid for a
    * STATIC standing side — a maintained standing table needs the
    * per-batch re-plan the default keeps.
    */
  def survivors(shard: DataFrame, standingFp: DataFrame,
      snapshotStatic: Boolean = false): Dataset[Survivor] = {
    val spark = shard.sparkSession
    import spark.implicits._
    val cleaned = CorpusOps.ingestProjection(shard)
      .filter(CorpusOps.ingestQuality)
    val novel =
      if (snapshotStatic) {
        val fps = standingFp.select(col("fp")).as[String]
          .collect().filter(_ != null).toSet
        val bc = spark.sparkContext.broadcast(fps)
        val novelFp = udf((fp: String) =>
          fp == null || !bc.value.contains(fp))
        cleaned.filter(novelFp(col("fp")))
      } else
        cleaned.join(standingFp.select(col("fp")), Seq("fp"), "left_anti")
    novel
      .select(col("fp"), col("doc_id"), col("source"), col("lang"),
        col("ntok"))
      .as[Survivor]
      .groupByKey(_.fp)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(step)
  }
}
