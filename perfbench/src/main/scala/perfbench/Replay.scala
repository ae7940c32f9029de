package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Engine
import graft.operators.{AsofJoin, TextOps}
import graft.streaming.{FileReplay, StreamAsof, StreamChangelog, StreamHeavyHitters}

/** stream_replay: three streaming twins, each reading its own source dir
  * through `FileReplay.read` (one file per trigger). The replay chunks
  * are written during set-up; in the window a generator thread moves
  * them into the source dirs on the plan's fixed schedule and never
  * waits for the streams. A chunk's latency runs from its landing to
  * the commit of the micro-batch that read it, both read back from the
  * query's checkpoint (source log and commit-file times), so the
  * untraced run needs no listener.
  */
final class Replay(work: String, twins: Seq[Replay.Twin]) {
  import Replay._

  def run(spark: SparkSession, plan: JsonNode, trace: Trace): Map[String, Any] = {
    val sc = spark.sparkContext
    // the catalog counters cover the streams' construction (its file
    // listing), the other counters only the ramp and the window
    val preBuild = Runner.counters()
    val built = twins.map(t => trace.span(spark, "build", -1) {
      t.build(FileReplay.read(spark, t.src))
    })
    // stream threads inherit the layer tag of the thread that starts them
    sc.setLocalProperty(Trace.LayerKey, "stream")
    val trigger = Trigger.ProcessingTime(plan.get("trigger_ms").asLong())
    val queries = twins.zip(built).map { case (t, df) =>
      t -> df.writeStream.format("memory").queryName(t.view)
        .option("checkpointLocation", t.ckpt).outputMode(t.mode)
        .trigger(trigger).start()
    }
    sc.setLocalProperty(Trace.LayerKey, null)
    queries.foreach(_._2.processAllAvailable()) // chunk 0
    val firstBatch = queries.map { case (_, q) =>
      q.lastProgress.batchId + 1 }
    trace.reset(keep = "build")
    val base = Runner.counters() ++ preBuild.filter(_._1.startsWith("catalog."))

    val schedule = twins.zipWithIndex.flatMap { case (t, k) =>
      t.staged.indices.drop(1).map(i => (t.land(i - 1), k, i))
    }.sortBy(_._1)
    val landed = mutable.ArrayBuffer.empty[(Int, Int, Double, Double)]
    val late = mutable.ArrayBuffer.empty[Double]
    val t0 = Runner.ms() + 200.0
    val gen = new Thread(() => schedule.foreach { case (at, k, i) =>
      val due = t0 + at * 1000.0
      val wait = due - Runner.ms()
      if (wait > 0) Thread.sleep(wait.toLong)
      land(twins(k), i)
      val now = Runner.ms()
      landed += ((k, i, due, now))
      late += (now - due) / 1000.0
    })
    gen.start(); gen.join()
    queries.foreach(_._2.processAllAvailable())
    val end = Runner.ms()
    trace.cutoff = end
    val rss = Runner.peakRssMb()
    val heap = Runner.retainedHeapMb()
    val cnt = Runner.delta(base)

    val committed = twins.map(commits)
    val rows = twins.map(rowsPerFile(spark, _))
    val ops = landed.zipWithIndex.map { case ((k, i, due, at), id) =>
      val t = twins(k)
      val commit = committed(k).get(t.staged(i).getName)
      Runner.Op(id, t.name, due, at, commit.getOrElse(Double.NaN),
        if (commit.isEmpty) Some("chunk never committed") else None)
    }
    val opRows = landed.map { case (k, i, _, _) =>
      rows(k).getOrElse(twins(k).staged(i).getName, 0L) }
    val progress = queries.zip(firstBatch).flatMap { case ((_, q), b0) =>
      q.recentProgress.filter(_.batchId >= b0).toSeq }
    if (trace.on) progress.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.toDouble)
        .getOrElse(0.0)
      trace.spans.add(Span("stream.trigger", start, start + dur, -1))
    }
    val layers = streamLayers(queries.map(_._2), progress, ops.toSeq)
    val checks = check(spark, queries)
    Map("ops" -> ops.map(Runner.opJson), "op_rows" -> opRows.toSeq,
      "t0_ms" -> t0,
      "stream_wall_s" -> (end - t0) / 1000.0, "peak_rss_mb" -> rss,
      "retained_heap_mb" -> heap,
      "late_s" -> late.toSeq,
      "counters" -> cnt, "stream_layers" -> layers, "checks" -> checks)
  }

  /** Move staged chunk `i` into the twin's source dir, atomically. */
  private def land(t: Twin, i: Int): Unit =
    Files.move(t.staged(i).toPath, new File(t.src, t.staged(i).getName)
      .toPath, StandardCopyOption.ATOMIC_MOVE)

  /** Input rows of every chunk file in the twin's source dir; untimed. */
  private def rowsPerFile(spark: SparkSession, t: Twin): Map[String, Long] =
    spark.read.parquet(t.src).groupBy(input_file_name().as("f")).count()
      .collect().map(r => new File(new java.net.URI(r.getString(0)).getPath)
        .getName -> r.getLong(1)).toMap

  /** Commit time of every chunk file the twin read. The source log maps a
    * file to the source offset that admitted it; the first micro-batch
    * whose offset log holds that offset read it (no-data batches repeat
    * an offset); that batch's commit-log file time is the commit.
    */
  private def commits(t: Twin): Map[String, Double] = {
    def logs(dir: String) = Option(new File(t.ckpt, dir).listFiles()).toSeq
      .flatten.filter(_.getName.headOption.exists(_.isDigit))
    val batchOf = logs("offsets").map { f =>
      val offset = mapper.readTree(Files.readAllLines(f.toPath).get(2))
        .get("logOffset").asLong()
      offset -> f.getName.toLong
    }.groupBy(_._1).map { case (o, bs) => o -> bs.map(_._2).min }
    logs("sources/0")
      .flatMap(f => Files.readAllLines(f.toPath).asScala.drop(1))
      .map(mapper.readTree)
      .flatMap { e =>
        batchOf.get(e.get("batchId").asLong())
          .map(b => new File(t.ckpt, s"commits/$b"))
          .filter(_.exists())
          .map(c => new File(e.get("path").asText()).getName ->
            c.lastModified().toDouble)
      }.toMap
  }

  private def streamLayers(qs: Seq[StreamingQuery],
      ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      ops: Seq[Runner.Op]): Map[String, Double] = {
    def d(key: String) = ps.map(p =>
      Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)).sum
    val last = qs.flatMap(q => Option(q.lastProgress))
      .flatMap(_.stateOperators.headOption)
    // backlog: chunks landed but not yet committed, at its worst
    val events = ops.flatMap(o => Seq((o.start, 1), (o.end, -1)))
      .sortBy(e => (e._1, e._2))
    val backlog = events.scanLeft(0)(_ + _._2).max
    Map(
      "stream.batches" -> ps.size.toDouble,
      "stream.input_rows" -> ps.map(_.numInputRows.toDouble).sum,
      "stream.trigger_ms" -> d("triggerExecution"),
      "stream.add_batch_ms" -> d("addBatch"),
      "stream.query_planning_ms" -> d("queryPlanning"),
      "stream.latest_offset_ms" -> d("latestOffset"),
      "stream.wal_commit_ms" -> d("walCommit"),
      "stream.commit_offsets_ms" -> d("commitOffsets"),
      "stream.state_rows" -> last.map(_.numRowsTotal.toDouble).sum,
      "stream.state_commit_ms" -> ps.flatMap(_.stateOperators)
        .map(_.commitTimeMs.toDouble).sum,
      "stream.state_bytes" -> last.map(_.memoryUsedBytes.toDouble).sum,
      "stream.backlog_max" -> backlog.toDouble)
  }

  /** Each twin against its batch operator over the chunks it was fed;
    * untimed. The as-of twin first gets a sentinel chunk whose far-future
    * event time moves the watermark past every real row.
    */
  private def check(spark: SparkSession,
      qs: Seq[(Twin, StreamingQuery)]): Seq[Map[String, Any]] = {
    import spark.implicits._
    qs.find(_._1.name == "asof").foreach { case (t, q) =>
      val stage = new File(work, "sentinel")
      Seq((-999L, -1L, 0, 4102444800000L)).toDF("key", "id", "side", "ms")
        .coalesce(1).write.parquet(stage.getPath)
      val f = stage.listFiles().filter(_.getName.startsWith("part-")).head
      Files.move(f.toPath, new File(t.src, "zz-sentinel.parquet").toPath,
        StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
    }
    qs.map { case (t, q) =>
      q.stop()
      val fed = spark.read.parquet(t.src)
      val got = spark.table(t.view)
      val (a, b) = t.name match {
        case "cms" =>
          (got.groupBy("r", "b").agg(max("cell").as("cell")),
            fed.select(explode(TextOps.tokens(lower(col("text")))).as("w"))
              .select(explode(array((0 until 4).map(r => struct(
                lit(r).as("r"), TextOps.cmsBucket(r, col("w")).as("b"))): _*))
                .as("rb"))
              .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
              .agg(count(lit(1)).as("cell")))
        case "asof" =>
          val ev = fed.filter(col("key") =!= -999L)
          (got.select(col("left_id"), col("right_id")),
            AsofJoin.asofJoin(
              ev.filter(col("side") === 1).select(col("id").as("event_id"),
                col("key"), col("ms").as("tsn")),
              ev.filter(col("side") === 0).select(col("id").as("view_id"),
                col("key"), col("ms").as("tsn")),
              Seq("key"), "tsn", Map("view_id" -> "view_id"),
              tieCol = "view_id")
              .select(col("event_id").as("left_id"),
                col("view_id").as("right_id")))
        case _ =>
          val w = org.apache.spark.sql.expressions.Window.partitionBy("key")
            .orderBy(col("seq").desc, col("op").desc)
          def winners(df: DataFrame) = df
            .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
            .select("key", "seq", "op", "payload")
          (winners(got.toDF()), winners(fed))
      }
      val missing = b.exceptAll(a).count()
      val extra = a.exceptAll(b).count()
      spark.catalog.dropTempView(t.view)
      Map("name" -> t.name, "ok" -> (missing == 0 && extra == 0),
        "detail" -> s"stream rows missing $missing, extra $extra")
    }
  }
}

object Replay {
  private val mapper = new ObjectMapper()

  /** The stream layer's metrics; workloads without streams report 0. */
  val LayerKeys: Seq[String] = Seq("stream.batches", "stream.input_rows",
    "stream.trigger_ms", "stream.add_batch_ms", "stream.query_planning_ms",
    "stream.latest_offset_ms", "stream.wal_commit_ms",
    "stream.commit_offsets_ms", "stream.state_rows", "stream.state_commit_ms",
    "stream.state_bytes", "stream.backlog_max")

  /** One twin: its staged chunk files (chunk 0 already landed), source
    * dir, checkpoint dir, landing offsets and stream constructor.
    */
  final case class Twin(name: String, staged: IndexedSeq[File], src: String,
      ckpt: String, land: IndexedSeq[Double], mode: String,
      build: DataFrame => DataFrame) {
    val view = s"perfbench_stream_$name"
  }

  /** Set-up: write every twin's replay chunks (`FileReplay.write`) and
    * land chunk 0, so each stream has a schema to start from.
    */
  def prepare(spark: SparkSession, dir: String, work: String,
      plan: JsonNode): Replay = {
    val setup = Files.createTempDirectory(new File(work).toPath, "replay")
      .toString
    val twins = plan.get("twins").asScala.toIndexedSeq.map { p =>
      val name = p.get("name").asText()
      val n = p.get("chunks").asInt()
      val (df, order, mode, build) = name match {
        case "cms" =>
          (docs(spark, dir, p).select("doc_id", "text"), Seq("doc_id"),
            "update", (s: DataFrame) => StreamHeavyHitters.cells(s).toDF())
        case "asof" =>
          val day0 = p.get("day0").asLong() * 86400000L + 1704067200000L
          val ev = Engine.table(spark, dir, "events")
            .filter(col("event_type").isin("click", "view"))
            .select(col("user_id").as("key"), col("event_id").as("id"),
              when(col("event_type") === "click", 1).otherwise(0).as("side"),
              (col("ts") / 1000000L).cast("long").as("ms"))
          (ev.filter(col("ms") >= day0 &&
              col("ms") < day0 + p.get("days").asLong() * 86400000L),
            Seq("ms", "id"), "append",
            (s: DataFrame) => StreamAsof.asofMatches(s.select(col("key"),
              col("id"), col("side"),
              timestamp_millis(col("ms")).as("event_time")),
              watermark = "1 second").toDF())
        case _ =>
          val d = docs(spark, dir, p)
            .selectExpr("doc_id", "substring(text, 1, 32) AS t")
          val log = d.select(col("doc_id").as("key"), lit(1L).as("seq"),
              lit("upsert").as("op"), col("t").as("payload"))
            .unionAll(d.filter(col("doc_id") % 5 === 0).select(
              col("doc_id").as("key"), lit(2L).as("seq"),
              lit("upsert").as("op"), upper(col("t")).as("payload")))
            .unionAll(d.filter(col("doc_id") % 7 === 0).select(
              col("doc_id").as("key"), lit(3L).as("seq"),
              lit("delete").as("op"), lit("").as("payload")))
          (log, Seq("seq", "key"), "update",
            (s: DataFrame) => StreamChangelog.resolved(s).toDF())
      }
      val stagedDir = FileReplay.write(df, order, n)
      val staged = new File(stagedDir).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName).toIndexedSeq
      val src = new File(setup, s"$name-src")
      src.mkdirs()
      Files.move(staged.head.toPath, new File(src, staged.head.getName).toPath,
        StandardCopyOption.ATOMIC_MOVE)
      val land = p.get("land").asScala.map(_.asDouble()).toIndexedSeq
      Twin(name, staged, src.getPath, new File(setup, s"$name-ckpt").getPath,
        land, mode, build)
    }
    new Replay(work, twins)
  }

  private def docs(spark: SparkSession, dir: String, p: JsonNode): DataFrame = {
    val lo = p.get("doc_lo").asLong()
    Engine.table(spark, dir, "documents")
      .filter(col("doc_id") >= lo && col("doc_id") < lo + p.get("docs").asLong())
  }
}
