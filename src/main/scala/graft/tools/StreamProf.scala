package graft.tools

import graft.streaming.{FileReplay, StreamTwins}

/** Per-trigger phase breakdown for the streaming twins: runs each named
  * twin's replay row through [[StreamTwins.run]] — the same code path
  * as Bench's `organic_stream_*` rows — and prints every micro-batch's
  * StreamingQueryProgress durationMs map (latestOffset / getBatch /
  * queryPlanning / addBatch / walCommit / commitOffsets /
  * triggerExecution, plus the state store's committed size), the
  * per-phase sums, and the row's meta record in BENCH_FULL.json's
  * `stream_meta` layout. Split fixed per-trigger cost from plan work
  * before tuning any twin.
  *
  * Usage: `runMain graft.tools.StreamProf <sfDir> <twin>...` where twin
  * is any [[StreamTwins.all]] name (neardedup, asof, cms, changelog,
  * interval, rquantiles, drift, funnel, ohlc, ingest); default
  * `cms neardedup asof interval`. `wall` covers the whole row: replay
  * write, stream build and drain.
  */
object StreamProf {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val twins = (if (args.length > 1) args.drop(1).toSeq
      else Seq("cms", "neardedup", "asof", "interval")).map(StreamTwins(_))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Engine.session(cpus, "graft-streamprof")
    val keys = Seq("latestOffset", "getBatch", "queryPlanning",
      "addBatch", "walCommit", "commitOffsets", "triggerExecution")

    twins.foreach { t =>
      val replays = collection.mutable.Map.empty[String, String]
      val t0 = System.nanoTime()
      val m = try StreamTwins.run(spark, sfDir, t, replays)
        finally replays.values.foreach(FileReplay.drop)
      val wall = (System.nanoTime() - t0) / 1e9
      println(s"== ${t.name} wall=${f"$wall%.2f"}s batches=${m.batches}")
      m.progress.foreach { p =>
        val d = p.durationMs
        val parts = keys.map(k =>
          s"$k=${Option(d.get(k)).map(_.longValue()).getOrElse(-1L)}")
        val st = p.stateOperators.map(s =>
          s"commit=${s.customMetrics.getOrDefault("stateOnCurrentVersionSizeBytes", -1L)}")
          .mkString(",")
        println(s"  batch=${p.batchId} rows=${p.numInputRows} " +
          parts.mkString(" ") + " " + st)
      }
      keys.foreach { k =>
        val s = m.progress.map(p =>
          Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(0L)).sum
        println(s"  SUM $k=$s ms")
      }
      println(s"  stream_meta ${m.json}")
    }
    spark.stop()
  }
}
