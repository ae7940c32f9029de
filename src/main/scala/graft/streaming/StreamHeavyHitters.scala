package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.TextOps

/** Streaming Count-Min-Sketch — the incremental twin of the batch
  * `text_heavy_hitters` entry (the streaming-twin pattern of
  * [[StreamNearDedup]]/[[StreamAsof]]). Token frequencies over an
  * unbounded document stream with state bounded by the SKETCH, not
  * the vocabulary: `mapGroupsWithState` keyed by the (row, bucket)
  * cell keeps ONE long per cell — d=4 x w=64 = 256 state rows forever,
  * whatever flows through (StreamHeavyHittersSpec pins the bound and
  * the batch equivalence: after any micro-batch split the cells equal
  * the batch sketch of everything seen).
  *
  * That is the whole point of sketching a stream: an exact streaming
  * word count's state grows with vocabulary (unbounded on raw text),
  * the CMS state is 2 KB and still answers point queries with the
  * usual est >= exact one-sided bound. Per micro-batch the only
  * shuffle is the groupByKey on the cell key; bucketing is the batch
  * path's own expression ([[TextOps.cmsBucket]]), fused map-side.
  */
object StreamHeavyHitters {

  final case class CellInc(r: Int, b: Int, n: Long)
  final case class Cell(r: Int, b: Int, cell: Long)

  private def bump(key: (Int, Int), rows: Iterator[CellInc],
      state: GroupState[Long]): Cell = {
    val n = state.getOption.getOrElse(0L) + rows.map(_.n).sum
    state.update(n)
    Cell(key._1, key._2, n)
  }

  /** Running CMS cells over a streaming (doc_id, text) relation —
    * Update-mode output; each micro-batch re-emits every cell it
    * touched with its new running value (the LAST emission per cell is
    * the sketch).
    *
    * Map-side combine before the stateful shuffle (guide §2.3
    * "aggregate before you shuffle"): every token explodes into 4
    * (row, bucket) increments — hundreds of thousands of 8-byte rows
    * per micro-batch shuffled into the 256-key state operator (r15
    * per-trigger profile: the slowest steady-state addBatch of the twins).
    * Counting per partition first caps the shuffle at
    * <= 256 rows x map tasks per batch; the state function sums the
    * partial counts, so every cell value — and the batch-equivalence
    * pin — is unchanged.
    */
  def cells(docs: DataFrame): Dataset[Cell] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tok = docs.select(
      explode(TextOps.tokens(lower(col("text")))).as("w"))
    // one INT rides the object boundary per increment (cell index
    // r*64 + b, buckets are 0..63 by construction); the per-partition
    // combine is a 256-slot primitive array
    val incs = tok.select(explode(array((0 until 4).map(r =>
        (TextOps.cmsBucket(r, col("w")) + lit(r * 64)).cast("int")): _*))
        .as("i"))
      .as[Int]
      .mapPartitions { it =>
        val counts = new Array[Long](256)
        it.foreach(i => counts(i) += 1L)
        Iterator.range(0, 256).filter(counts(_) > 0L)
          .map(i => CellInc(i / 64, i % 64, counts(i)))
      }
    incs.groupByKey(c => (c.r, c.b))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(bump)
  }
}
