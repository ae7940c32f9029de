package graft.tools

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.{Bench, Engine}
import graft.streaming.FileReplay

/** Where a bench row's time goes. For each named [[Bench.rows]] row
  * (any registry entry, organic row or `organic_stream_*` row) it runs
  * the row once to warm codegen, JIT and, for a stream row, the replay
  * dir, then once more under a listener through [[Bench.timed]], and
  * prints wall time, jobs, stages, tasks and the top stages by wall
  * time with task counts, executor run time and shuffle bytes. It also
  * prints the codegen compiles of both runs and their seconds, read from
  * `CodegenMetrics` as perfbench's trace reads them: the warm-up run
  * shows what a first run of the row compiles, the profiled run what a
  * repeat still compiles.
  *
  * A stream row also prints every micro-batch's durationMs phases
  * (latestOffset / getBatch / queryPlanning / addBatch / walCommit /
  * commitOffsets / triggerExecution, plus the state store's committed
  * size), the per-phase sums and its `stream_meta` record. The profiled
  * run reuses the warm run's replay dir, as Bench's second pass does.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=<sfDir> runMain graft.tools.Profile <row>...`
  * (sf dir and SPARK_GRAFT_CPUS default as in Bench).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.tools.Profile <bench row>...")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Engine.session(cpus, "graft-profile")
    val replays = mutable.Map.empty[String, String]
    try {
      val rows =
        try Bench.select(Bench.rows(spark, sfDir, replays), args.toSeq)
        catch { case e: IllegalArgumentException =>
          System.err.println(s"[profile] ${e.getMessage}")
          sys.exit(2)
        }
      rows.foreach(profile(spark, _))
    } finally {
      replays.values.foreach(FileReplay.drop)
      spark.stop()
    }
  }

  /** `body`'s result, with the codegen compiles during it and their
    * seconds: the compile count times the mean of Spark's compile-time
    * histogram, as perfbench's `codegen.compile_s`.
    */
  private def codegen[T](body: => T): (T, Long, Double) = {
    val ct = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = ct.getCount
    val r = body
    val n = ct.getCount - before
    (r, n, n * ct.getSnapshot.getMean / 1000.0)
  }

  private val phases = Seq("latestOffset", "getBatch", "queryPlanning",
    "addBatch", "walCommit", "commitOffsets", "triggerExecution")

  private def profile(spark: org.apache.spark.sql.SparkSession,
      row: Bench.Row): Unit = {
    val (warm, warmCompiles, warmCompileS) = codegen(Bench.timed(spark, row))
    warm.failure.foreach(e =>
      println(s"[${row.name}] warmup failed: ${e.getMessage}"))
    val stages = mutable.ArrayBuffer
      .empty[(Int, String, Int, Long, Long, Long, Long)]
    val details = mutable.Map.empty[Int, String]
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageCompleted(
          s: SparkListenerStageCompleted): Unit = synchronized {
        val i = s.stageInfo
        val wall = (for {a <- i.completionTime; b <- i.submissionTime}
          yield a - b).getOrElse(0L)
        val m = i.taskMetrics
        stages += ((i.stageId, i.name.takeWhile(_ != '\n').take(80),
          i.numTasks, wall,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.executorRunTime))
        // the call site's first operator frames, below the harness;
        // the stage name when none is on the stack
        val site = i.details.linesIterator
          .filter(l => l.contains("graft.") &&
            !l.contains("graft.Bench") && !l.contains("graft.tools."))
          .take(3).mkString(" | ")
        if (site.nonEmpty) details(i.stageId) = site
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val (run, compiles, compileS) = codegen(Bench.timed(spark, row))
    Thread.sleep(300) // let the listener bus drain
    sc.removeSparkListener(listener)
    listener.synchronized {
      println(f"== ${row.name} wall=${run.seconds}%.2f s jobs=$jobs " +
        s"stages=${stages.size} tasks=${stages.map(_._3).sum} " +
        s"stageWallSum=${stages.map(_._4).sum}ms")
      println(f"  codegen compiles=$compiles compile_s=$compileS%.2f " +
        f"(warm-up run: compiles=$warmCompiles compile_s=$warmCompileS%.2f)")
      run.failure.foreach(e => println(s"  FAILED: ${e.getMessage}"))
      stages.sortBy(-_._4).take(12).foreach {
        case (id, nm, tasks, w, sr, sw, exec) =>
          println(f"    stage $id%4d ${w}%6d ms tasks=$tasks%3d " +
            f"run=${exec}ms shufR=${sr / 1024}K shufW=${sw / 1024}K  " +
            details.getOrElse(id, nm))
      }
    }
    run.meta.foreach { m =>
      def phase(p: org.apache.spark.sql.streaming.StreamingQueryProgress,
          k: String): Option[Long] =
        Option(p.durationMs.get(k)).map(_.longValue())
      m.progress.foreach { p =>
        val st = p.stateOperators.map(s =>
          s"commit=${s.customMetrics.getOrDefault("stateOnCurrentVersionSizeBytes", -1L)}")
          .mkString(",")
        println(s"  batch=${p.batchId} rows=${p.numInputRows} " +
          phases.map(k => s"$k=${phase(p, k).getOrElse(-1L)}").mkString(" ") +
          " " + st)
      }
      phases.foreach(k =>
        println(s"  SUM $k=${m.progress.flatMap(phase(_, k)).sum} ms"))
      println(s"  stream_meta ${m.json}")
    }
  }
}
