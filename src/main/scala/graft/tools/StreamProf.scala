package graft.tools

/** Per-trigger phase breakdown for the streaming twins: runs one twin's
  * replay exactly like Bench does and prints every micro-batch's
  * StreamingQueryProgress durationMs map (latestOffset / getBatch /
  * queryPlanning / addBatch / walCommit / commitOffsets / stateStore
  * metrics) — the measurement the r14 verdict's streaming item asks
  * for: split fixed per-trigger cost from plan work before touching
  * any twin (guide §1.1 "measure first").
  *
  * Usage: StageProf-style — `runMain graft.tools.StreamProf <sfDir>
  * <twin>...` where twin is one of the Bench row suffixes (neardedup,
  * asof, cms, changelog, interval, rquantiles, drift, funnel, ohlc,
  * ingest).
  */
object StreamProf {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val twins = if (args.length > 1) args.drop(1).toSeq
      else Seq("cms", "neardedup", "asof", "interval")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Engine.session(cpus, "graft-streamprof")

    import org.apache.spark.sql.functions.{col, when}
    def table(n: String) = graft.Engine.table(spark, sfDir, n)

    def run(twin: String): Unit = {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val (dir, stream) = twin match {
          case "cms" =>
            val d = graft.streaming.FileReplay.write(
              table("documents").selectExpr("doc_id", "text"), Seq("doc_id"))
            (d, graft.streaming.StreamHeavyHitters.cells(
              graft.streaming.FileReplay.read(spark, d)).toDF())
          case "neardedup" =>
            val d = graft.streaming.FileReplay.write(
              table("documents").selectExpr("doc_id", "text"), Seq("doc_id"))
            (d, graft.streaming.StreamNearDedup.starEdges(
              graft.streaming.FileReplay.read(spark, d)).toDF())
          case "asof" =>
            val d = graft.streaming.FileReplay.write(
              table("events")
                .filter(col("event_type").isin("click", "view"))
                .select(col("user_id").as("key"), col("event_id").as("id"),
                  when(col("event_type") === "click", 1).otherwise(0)
                    .as("side"),
                  (col("ts") / 1000000L).cast("long").as("ms")),
              Seq("ms", "id"))
            val src = graft.streaming.FileReplay.read(spark, d)
            (d, graft.streaming.StreamAsof.asofMatches(
              src.select(col("key"), col("id"), col("side"),
                (col("ms") / 1000.0).cast("timestamp").as("event_time")),
              watermark = "0 seconds"))
          case "interval" =>
            val ev = table("events")
              .selectExpr("event_id", "(ts - ts % 1000) AS tsn",
                "event_type", "value")
            val a = ev.selectExpr("event_id AS id", "0 AS side",
              "tsn AS start", "tsn + 60000000000 AS end")
            val b = ev.filter("event_type = 'error' AND value >= 200.0")
              .selectExpr("event_id AS id", "1 AS side",
                "tsn - 600000000000 AS start", "tsn + 600000000000 AS end")
            val d = graft.streaming.FileReplay.write(a.unionAll(b),
              Seq("end", "side", "id"))
            val src = graft.streaming.FileReplay.read(spark, d)
            (d, graft.streaming.StreamInterval.overlapMatches(
              src.select(col("id"), col("side"), col("start"), col("end"),
                (col("end") / 1.0e9).cast("timestamp").as("event_time")),
              watermark = "0 seconds", shift = 40, maxBuckets = 4))
          case "ingest" =>
            val d = graft.streaming.FileReplay.write(
              table("documents")
                .filter(col("doc_id") % 5 === 0 && col("doc_id") % 97 =!= 0)
                .select(col("doc_id"), col("source"), col("lang"),
                  col("text")), Seq("doc_id"))
            val standing = table("documents")
              .filter(col("doc_id") % 5 =!= 0)
              .select(graft.operators.CorpusOps.docFp(col("text")).as("fp"))
              .distinct().localCheckpoint()
            (d, graft.streaming.StreamIngest.survivors(
              graft.streaming.FileReplay.read(spark, d), standing,
              snapshotStatic =
                sys.env.get("STREAMPROF_SNAPSHOT").forall(_ == "1")).toDF())
          case other => sys.error(s"unknown twin $other")
        }
        val name = s"streamprof_${twin}_${System.nanoTime()}"
        val t0 = System.nanoTime()
        val q = stream.writeStream.format("memory").queryName(name)
          .outputMode(twin match {
            case "cms" | "changelog" => "update"
            case _ => "append"
          }).start()
        q.processAllAvailable()
        val wall = (System.nanoTime() - t0) / 1e9
        val ps = q.recentProgress
        println(s"== $twin wall=${f"$wall%.2f"}s batches=${ps.length}")
        val keys = Seq("latestOffset", "getBatch", "queryPlanning",
          "addBatch", "walCommit", "commitOffsets", "triggerExecution")
        ps.foreach { p =>
          val d = p.durationMs
          val parts = keys.map(k =>
            s"$k=${Option(d.get(k)).map(_.longValue()).getOrElse(-1L)}")
          val st = p.stateOperators.map(s =>
            s"commit=${s.customMetrics.getOrDefault("stateOnCurrentVersionSizeBytes", -1L)}")
            .mkString(",")
          println(s"  batch=${p.batchId} rows=${p.numInputRows} " +
            parts.mkString(" ") + " " + st)
        }
        // phase sums across batches
        keys.foreach { k =>
          val s = ps.map(p =>
            Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(0L)).sum
          println(s"  SUM $k=$s ms")
        }
        q.stop()
        spark.catalog.dropTempView(name)
        graft.streaming.FileReplay.drop(dir)
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }

    twins.foreach(run)
    spark.stop()
  }
}
