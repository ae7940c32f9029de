package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.DedupOps

/** Streaming MinHash-LSH near-duplicate detection — the incremental
  * twin of the batch star-emission path (engine surface beyond parity;
  * the reference has no streaming subsystem, SURVEY.md section 2.8).
  *
  * Documents arrive as an append-only stream; each is banded map-side
  * with the EXACT batch expressions ([[DedupOps.minhashBandify]]:
  * shingle -> minhash64 -> 16 x 4-row buckets), then
  * `flatMapGroupsWithState` keyed by (band_idx, band_hash) maintains
  * ONE long of state per bucket — the bucket REPRESENTATIVE, the
  * smallest doc_id seen so far. Each micro-batch emits a star edge
  * (rep, doc) for every bucket member beyond the running min; when a
  * new minimum arrives it supersedes the old representative AND emits
  * an edge linking the two, so the representative chain keeps every
  * historical member transitively connected.
  *
  * Connectivity equivalence (StreamNearDedupSpec pins it): the edge
  * SET differs from the batch star (a member links to the min seen AT
  * ARRIVAL, not the global min), but the transitive closure is
  * IDENTICAL for any batch split — the rep chain r1 > r2 > ... links
  * the generations. Downstream, the same
  * [[graft.operators.GraphOps.connectedComponents]] / survivor
  * selection consumes the edges unchanged.
  *
  * 100 TB shape: state is one long per DISTINCT bucket (bounded by
  * band-key ndv, not corpus size — 16 bands x hash space, in practice
  * ~16 per distinct near-dup group); banding fuses into the stream
  * scan; the only shuffle per micro-batch is the groupByKey on the
  * bucket key. For horizon-bounded ingest (dups land close together),
  * swap NoTimeout for an event-time timeout and the state ages out
  * like [[StreamDedup.dedupWithinWatermark]]'s.
  */
object StreamNearDedup {

  final case class BandDoc(band_idx: Int, band_hash: Long, doc_id: Long)
  final case class StarEdge(doc_a: Long, doc_b: Long)

  /** Per-bucket transition: fold the arriving members into the running
    * min and emit one edge per non-min member (old rep included when
    * superseded). The concat is distinct'd BEFORE emission: when the
    * stored representative's own doc_id re-arrives (a re-crawl), the
    * naive `state ++ arrived` would contain it twice and a superseding
    * new min would emit the (newMin, oldRep) edge twice in one
    * micro-batch (duplicate rows in append output —
    * StreamNearDedupSpec pins exactly-once per bucket).
    */
  private def emit(key: (Int, Long), rows: Iterator[BandDoc],
      state: GroupState[Long]): Iterator[StarEdge] = {
    val all = (state.getOption.toArray ++ rows.map(_.doc_id)).distinct
    if (all.isEmpty) Iterator.empty
    else {
      val m = all.min
      state.update(m)
      all.iterator.filter(_ != m).map(d => StarEdge(m, d))
    }
  }

  /** Star edges over a streaming (doc_id, text) relation. Append-mode
    * output (canonical doc_a < doc_b); feed the collected, distinct'd
    * edges to [[graft.operators.GraphOps.connectedComponents]] exactly
    * like the batch path.
    */
  def starEdges(docs: DataFrame): Dataset[StarEdge] = {
    val spark = docs.sparkSession
    import spark.implicits._
    DedupOps.minhashBandify(docs)
      .select(col("band_idx"), col("band_hash"), col("doc_id"))
      .as[BandDoc]
      .groupByKey(b => (b.band_idx, b.band_hash))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(emit)
  }

  /** Distinct (band, bucket) keys of a batch (doc_id, text) relation:
    * the bound on [[starEdges]]' state rows.
    */
  def stateBound(docs: DataFrame): Long =
    DedupOps.minhashBandify(docs).select("band_idx", "band_hash")
      .distinct().count()

  final case class BandDocT(band_idx: Int, band_hash: Long, doc_id: Long,
      event_time: java.sql.Timestamp)

  /** Horizon-bounded star edges: state ages out once the watermark
    * passes `horizon` beyond a bucket's newest member — near-dups only
    * link within the horizon (the retry/re-crawl ingest case, same
    * memory contract as [[StreamDedup.dedupWithinWatermark]]). Input
    * needs an `event_time` column; the watermark rides through the
    * banding (every non-text column passes through
    * [[DedupOps.minhashBandify]]).
    */
  def starEdgesWithHorizon(docs: DataFrame,
      horizon: String): Dataset[StarEdge] = {
    val spark = docs.sparkSession
    import spark.implicits._
    DedupOps.minhashBandify(docs.withWatermark("event_time", horizon))
      .select(col("band_idx"), col("band_hash"), col("doc_id"),
        col("event_time"))
      .as[BandDocT]
      .groupByKey(b => (b.band_idx, b.band_hash))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, Long), rows: Iterator[BandDocT], state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val arr = rows.toArray
            val all = (state.getOption.toArray ++ arr.map(_.doc_id)).distinct
            val m = all.min
            state.update(m)
            // the bucket lives one horizon past its newest member. The
            // timeout base is clamped to the CURRENT watermark: Spark
            // admits rows against the PREVIOUS micro-batch's watermark
            // but validates setTimeoutTimestamp against the current
            // (eviction) one, so when the watermark jumps more than
            // `horizon` in one batch a marginally-late row would
            // otherwise produce a timeout at/below the watermark and
            // GroupStateImpl throws — killing the whole query
            // (StreamNearDedupSpec's watermark-jump case crashes
            // without the clamp).
            state.setTimeoutTimestamp(
              math.max(arr.map(_.event_time.getTime).max,
                state.getCurrentWatermarkMs()), horizon)
            all.iterator.filter(_ != m).map(d => StarEdge(m, d))
          }
      }
  }

  final case class SimBandDoc(band_idx: Int, band_val: Long, doc_id: Long,
      sh: Long)

  /** Per-bucket transition for the SimHash path: the representative is
    * the min (doc_id, simhash) pair (identical to the batch
    * min(struct(doc_id, sh)) window pick — doc_ids are unique per
    * bucket, so both reduce to the min doc_id and its simhash), and an
    * edge is emitted only when the member is within Hamming <= 6 of the
    * representative's full 64-bit simhash — the same verify the batch
    * [[DedupOps.simhashStarEdgesOf]] applies, because unverified 16-bit
    * buckets chance-collide at corpus scale.
    */
  private def emitSim(key: (Int, Long), rows: Iterator[SimBandDoc],
      state: GroupState[(Long, Long)]): Iterator[StarEdge] = {
    val all = (state.getOption.toArray ++
      rows.map(r => (r.doc_id, r.sh))).distinct
    if (all.isEmpty) Iterator.empty
    else {
      val m = all.min
      state.update(m)
      all.iterator.filter(_._1 != m._1)
        .filter(d => java.lang.Long.bitCount(d._2 ^ m._2) <= 6)
        .map(d => StarEdge(m._1, d._1))
    }
  }

  /** SimHash star edges over a streaming (doc_id, text) relation — the
    * incremental twin of [[DedupOps.simhashStarEdgesOf]], banded with
    * the EXACT batch expressions ([[DedupOps.simhashBandify]]: 64-bit
    * simhash -> 4 x 16-bit bands) and Hamming-verified inside the state
    * function. State is one (doc_id, simhash) pair per distinct bucket.
    *
    * Equivalence is WEAKER than the minhash star's: a single micro-batch
    * emits exactly the batch edge set, and every edge (in any split) is
    * within Hamming <= 6 of both endpoints — but because members verify
    * against the representative AT ARRIVAL, a rep superseded across
    * batches whose chain edge fails the Hamming verify can legitimately
    * UNDER-merge vs the single-batch closure (the same recall asymmetry
    * the batch star has vs [[DedupOps.simhashPairs]], documented there).
    * StreamNearDedupSpec pins the single-batch equality, the per-edge
    * Hamming bound under splits, and twin linkage.
    */
  def simhashStarEdges(docs: DataFrame): Dataset[StarEdge] = {
    val spark = docs.sparkSession
    import spark.implicits._
    DedupOps.simhashBandify(docs)
      .select(col("band_idx"), col("band_val"), col("doc_id"), col("sh"))
      .as[SimBandDoc]
      .groupByKey(b => (b.band_idx, b.band_val))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(emitSim)
  }

  final case class SimBandDocT(band_idx: Int, band_val: Long, doc_id: Long,
      sh: Long, event_time: java.sql.Timestamp)

  /** Horizon-bounded SimHash star edges — [[simhashStarEdges]] with the
    * same event-time state aging as [[starEdgesWithHorizon]] (state ages
    * out one `horizon` past the bucket's newest member), including the
    * watermark clamp on the timeout base (see the comment there — an
    * unclamped timeout crashes the query on a watermark jump).
    */
  def simhashStarEdgesWithHorizon(docs: DataFrame,
      horizon: String): Dataset[StarEdge] = {
    val spark = docs.sparkSession
    import spark.implicits._
    DedupOps.simhashBandify(docs.withWatermark("event_time", horizon))
      .select(col("band_idx"), col("band_val"), col("doc_id"), col("sh"),
        col("event_time"))
      .as[SimBandDocT]
      .groupByKey(b => (b.band_idx, b.band_val))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, Long), rows: Iterator[SimBandDocT],
            state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val arr = rows.toArray
            val all = (state.getOption.toArray ++
              arr.map(r => (r.doc_id, r.sh))).distinct
            val m = all.min
            state.update(m)
            state.setTimeoutTimestamp(
              math.max(arr.map(_.event_time.getTime).max,
                state.getCurrentWatermarkMs()), horizon)
            all.iterator.filter(_._1 != m._1)
              .filter(d => java.lang.Long.bitCount(d._2 ^ m._2) <= 6)
              .map(d => StarEdge(m._1, d._1))
          }
      }
  }
}
