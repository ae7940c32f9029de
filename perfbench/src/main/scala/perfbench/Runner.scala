package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.sql.{Row, SparkSession}

import graft.Engine

/** Benchmark runner: one workload, one seed, one JVM.
  *
  * Usage: Runner <plan.json> <dataDir> <workDir> <out.json> <trace 0|1>
  *
  * The plan comes from `workloads.py`; this process sets the engine up
  * three times (the last session serves the run), runs the untimed
  * warm-up, runs the timed window, releases leaked blocks, views and
  * streams, and writes every per-op timing and result to `out.json` for
  * `run.py` to check and summarize. All engine calls go through public
  * entry points: `Engine.session`, `Engine.register`, `Engine.sql`,
  * `FileReplay` and the `graft.streaming` query functions.
  */
object Runner {
  private val mapper = new ObjectMapper()
  val Cores = 4

  final case class Op(id: Int, name: String, due: Double, start: Double,
      end: Double, error: Option[String])

  def main(args: Array[String]): Unit = {
    val Array(planPath, dataDir, workDir, outPath, traceFlag) = args
    val plan = mapper.readTree(new File(planPath))
    val trace = new Trace(traceFlag == "1")
    val out = mutable.LinkedHashMap.empty[String, Any]
    val workload = plan.get("workload").asText()

    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var replay: Option[Replay] = None
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    var coldS = 0.0
    for (i <- 0 until 3) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = Engine.session(Cores.toString, "perfbench")
      Engine.register(spark, dataDir)
      if (workload == "stream_replay")
        replay = Some(Replay.prepare(spark, dataDir, workDir, plan))
      setups += (System.nanoTime() - t0) / 1e9
      if (i == 0) coldS = (ms() - jvmStart) / 1000.0
    }
    out("setup_s") = setups.toSeq
    // from JVM start to the first engine ready: JVM and class loading,
    // and the cold first set-up
    out("setup_cold_s") = coldS
    trace.install(spark)
    val t1 = ms()

    val res = workload match {
      case "adhoc_sql" => adhoc(spark, dataDir, workDir, plan, trace)
      case "stream_replay" => replay.get.run(spark, plan, trace)
    }
    spark.streams.active.foreach(_.stop())
    out ++= res
    out("runner_s") = Map("setup" -> setups.sum, "run" -> (ms() - t1) / 1000.0)
    out("layers") = if (trace.on) layers(spark, trace, res) else Map.empty
    if (trace.on) {
      val f = new File(workDir, "spans.json")
      mapper.writeValue(f, toJava(trace.resolved().map(s => Map(
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "parent" -> s.parent, "op" -> s.op))))
    }
    mapper.writeValue(new File(outPath), toJava(out))
    spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(-1.0)

  /** Heap still in use after a full collection at the window's end, in
    * MB: what the run holds on to (caches, cached relations and blocks,
    * results and state kept by the driver). Peak RSS cannot show this,
    * because the heap is fixed and pre-touched.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Release leaked `Engine.materialize` blocks (blocking) and drop temp
    * views the sinks left behind; outside every timed interval.
    */
  def hygiene(spark: SparkSession, keepViews: Set[String]): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && !keepViews(t.name))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  def ms(): Double = System.currentTimeMillis().toDouble

  private def error(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("")}"
      .take(400)

  // ---- adhoc_sql: open loop, Poisson arrivals, <= 4 submitters ---------

  def adhoc(spark: SparkSession, dir: String, work: String, plan: JsonNode,
      trace: Trace): Map[String, Any] = {
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Any]()
    def runSql(sql: String): (Seq[(String, String)], Seq[Seq[Any]]) = {
      val df = Engine.sql(spark, dir, sql)
      (df.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq,
        df.collect().toSeq.map(rowValues))
    }
    // untimed warm-up: the sink table, its first partitions, and one
    // statement of every template; results are checked like the window's
    val warm = plan.get("warmup").asScala.toIndexedSeq.map { w =>
      try {
        val (schema, rows) = runSql(w.get("sql").asText())
        Map("schema" -> schema.map(p => Seq(p._1, p._2)), "rows" -> rows)
      } catch { case t: Throwable => Map("error" -> error(t)) }
    }
    val views = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val stmts = plan.get("ops").asScala.toIndexedSeq
    val threads = plan.get("threads").asInt()

    trace.reset()
    val base = counters()
    val next = new AtomicInteger(0)
    val inflight = new AtomicInteger(0)
    val busyMax = new AtomicInteger(0)
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val late = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val writeLock = new Object
    val t0 = ms() + 200.0
    val workers = (0 until threads).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < stmts.size) {
          val st = stmts(i)
          val id = st.get("id").asInt()
          val due = t0 + st.get("due").asDouble() * 1000.0
          val wait = due - ms()
          if (wait > 0) Thread.sleep(wait.toLong)
          val start = ms()
          late.add((start - due) / 1000.0)
          busyMax.accumulateAndGet(inflight.incrementAndGet(), math.max)
          val err = try {
            trace.span(spark, "op", id) {
              val df = trace.span(spark, "engine_sql", id) {
                val sql = st.get("sql").asText()
                // concurrent INSERTs into one table share its
                // _temporary commit dir and fail, so writes take turns
                if (st.get("kind").asText() == "insert")
                  writeLock.synchronized(Engine.sql(spark, dir, sql))
                else Engine.sql(spark, dir, sql)
              }
              trace.tag(df, id)
              val rows = trace.span(spark, "drain", id) { df.collect() }
              results.put(id, Map(
                "schema" -> df.schema.fields.map(f =>
                  Seq(f.name, f.dataType.simpleString)).toSeq,
                "rows" -> rows.toSeq.map(rowValues)))
            }
            None
          } catch { case t: Throwable => Some(error(t)) }
          inflight.decrementAndGet()
          ops.add(Op(id, st.get("kind").asText(), due, start, ms(), err))
          i = next.getAndIncrement()
        }
      })
    }
    workers.foreach(_.start()); workers.foreach(_.join())
    trace.cutoff = ms()
    val rss = peakRssMb()
    val heap = retainedHeapMb()
    val cnt = delta(base)
    // every partition the window inserted, for the per-insert check
    val written = try {
      val (schema, rows) = runSql(
        "select * from adhoc_sink where part_id >= 100")
      Map("schema" -> schema.map(p => Seq(p._1, p._2)), "rows" -> rows)
    } catch { case t: Throwable => Map("error" -> error(t)) }
    hygiene(spark, views)
    val sorted = ops.asScala.toSeq.sortBy(_.id)
    Map("ops" -> sorted.map(opJson), "t0_ms" -> t0,
      "peak_rss_mb" -> rss, "retained_heap_mb" -> heap, "counters" -> cnt,
      "late_s" -> late.asScala.toSeq, "busy_threads_max" -> busyMax.get(),
      "warmup" -> warm, "written" -> written,
      "results" -> sorted.map(o => Option(results.get(o.id)).getOrElse(Map())))
  }

  /** A row's values as JSON-writable scalars. */
  def rowValues(r: Row): Seq[Any] = r.toSeq.map {
    case v @ (null | _: java.lang.Number | _: String | _: java.lang.Boolean) => v
    case other => other.toString
  }

  // ---- counters shared by every workload -------------------------------

  /** Process-wide engine counters, read at window start and end. */
  def counters(): Map[String, Double] = {
    val ct = CodegenMetrics.METRIC_COMPILATION_TIME
    Map(
      "codegen.compiles" -> ct.getCount.toDouble,
      "codegen.mean_ms" -> ct.getSnapshot.getMean,
      "catalog.files_discovered" ->
        HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
      "catalog.file_cache_hits" ->
        HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount.toDouble,
      "jit.compile_ms" ->
        ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble)
  }

  def delta(base: Map[String, Double]): Map[String, Double] = {
    val now = counters()
    val compiles = now("codegen.compiles") - base("codegen.compiles")
    Map(
      "codegen.compiles" -> compiles,
      // the compile-time histogram keeps a sample, not a sum: its mean
      // over the window's compiles estimates their total
      "codegen.compile_s" -> compiles * now("codegen.mean_ms") / 1000.0,
      "catalog.files_discovered" ->
        (now("catalog.files_discovered") - base("catalog.files_discovered")),
      "catalog.file_cache_hits" ->
        (now("catalog.file_cache_hits") - base("catalog.file_cache_hits")),
      // time the JVM's JIT compiler threads spent compiling: CPU the
      // engine's threads do not get on 4 cores
      "jit.compile_s" -> (now("jit.compile_ms") - base("jit.compile_ms")) / 1000.0)
  }

  def opJson(o: Op): Map[String, Any] = Map(
    "id" -> o.id, "name" -> o.name, "due_ms" -> o.due,
    "start_ms" -> o.start, "end_ms" -> o.end, "error" -> o.error.orNull)

  /** Per-layer metrics of a traced run. */
  def layers(spark: SparkSession, trace: Trace,
      res: Map[String, Any]): Map[String, Double] = {
    Thread.sleep(500) // let the listener bus deliver the window's last events
    val all = trace.resolved()
    val self = Trace.selfTimes(all)
    def total(name: String) = all.filter(_.name == name)
      .map(s => (s.end - s.start) / 1000.0).sum
    def count(name: String) = all.count(_.name == name).toDouble
    val t = trace.tasks
    def tk(layer: String) = t.getOrElse(layer, new trace.Tasks)
    // an INSERT executes inside Engine.sql, so its jobs carry that layer
    val ex = Seq("drain", "stream", "engine_sql").map(tk)
    val b = tk("build")
    val withJobs = all.filter(_.name == "exec.job").map(_.parent).toSet
    val eagerWall = all.indices
      .filter(i => all(i).name == "engine_sql" && withJobs(i))
      .map(i => (all(i).end - all(i).start) / 1000.0).sum
    val drainWall = total("drain") + eagerWall +
      res.getOrElse("stream_wall_s", 0.0).asInstanceOf[Double]
    val runS = ex.map(_.runMs).sum / 1000.0
    val out = mutable.LinkedHashMap[String, Double](
      "engine_sql.calls" -> count("engine_sql"),
      "engine_sql.time_s" -> total("engine_sql"),
      "engine_sql.self_s" -> self.getOrElse("engine_sql", 0.0),
      "build.time_s" -> total("build"),
      "build.self_s" -> self.getOrElse("build", 0.0),
      "build.jobs" -> b.jobs.toDouble,
      "build.tasks" -> b.tasks.toDouble,
      "build.task_run_s" -> b.runMs / 1000.0,
      "catalyst.analysis_s" -> total("catalyst.analysis"),
      "catalyst.optimization_s" -> total("catalyst.optimization"),
      "catalyst.planning_s" -> total("catalyst.planning"),
      "exec.time_s" -> drainWall,
      "exec.self_s" -> (self.getOrElse("drain", 0.0) +
        self.getOrElse("exec.job", 0.0)),
      "exec.jobs" -> ex.map(_.jobs).sum.toDouble,
      "exec.stages" -> ex.map(_.stages).sum.toDouble,
      "exec.tasks" -> ex.map(_.tasks).sum.toDouble,
      "exec.task_run_s" -> runS,
      "exec.task_cpu_s" -> ex.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> ex.map(_.gcMs).sum / 1000.0,
      "exec.idle_slot_frac" ->
        (if (drainWall > 0) 1.0 - runS / (Cores * drainWall) else 0.0),
      "exec.scan_bytes" -> ex.map(_.scanBytes).sum.toDouble,
      "exec.shuffle_write_bytes" -> ex.map(_.shuffleWrite).sum.toDouble,
      "exec.shuffle_read_bytes" -> ex.map(_.shuffleRead).sum.toDouble,
      "exec.spill_bytes" -> ex.map(_.spill).sum.toDouble,
      "exec.peak_mem_bytes" -> ex.map(_.peakMem).max.toDouble,
      "sink.rows" -> t.values.map(_.sinkRows).sum.toDouble,
      "sink.bytes" -> t.values.map(_.sinkBytes).sum.toDouble)
    out ++= res.getOrElse("counters", Map.empty[String, Double])
      .asInstanceOf[Map[String, Double]]
    val stream = res.getOrElse("stream_layers", Map.empty[String, Double])
      .asInstanceOf[Map[String, Double]]
    out ++= Replay.LayerKeys.map(k => k -> stream.getOrElse(k, 0.0))
    out("stream.trigger_self_s") = self.getOrElse("stream.trigger", 0.0)
    out.toMap
  }

  /** Scala values to Jackson-writable Java collections. */
  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }
}
