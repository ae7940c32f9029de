package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval, in epoch milliseconds. `parent` is the index of the
  * enclosing span in the same trace, or -1; `op` is the workload op id.
  */
final case class Span(name: String, start: Double, end: Double, op: Int,
    var parent: Int = -1)

/** In-memory span recorder and Spark counters for the traced run.
  *
  * Spans are recorded around the benchmark's own calls into each layer
  * (build, engine_sql, drain); listener events add the Catalyst phases of
  * every query execution and one span per Spark job. A job is attributed
  * to the layer call that submitted it through a job-local property; a
  * Catalyst phase to the op whose DataFrame it belongs to (see `tag`).
  * Nothing here is installed in an untraced run: `Trace.off` records
  * nothing.
  */
final class Trace(val on: Boolean) {
  val spans = new ConcurrentLinkedQueue[Span]()
  // Catalyst phases with the QueryExecution that ran them; their op is
  // looked up when the trace is resolved, because the listener can see an
  // eager command's execution before its op is tagged
  private val phases = new ConcurrentLinkedQueue[(QueryExecution, Span)]()
  private val jobs = new ConcurrentLinkedQueue[Span]()
  private val opOf = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[AnyRef, Integer]())

  /** Per-layer task counters, keyed by the layer that submitted the job. */
  final class Tasks {
    var jobs, stages, tasks = 0L
    var runMs, gcMs, scanBytes, shuffleWrite, shuffleRead, spill = 0L
    var cpuNs, sinkRows, sinkBytes, peakMem = 0L
  }
  val tasks: mutable.Map[String, Tasks] = mutable.Map.empty
  private val jobLayer = mutable.Map.empty[Int, (String, Int, Double)]
  private val stageLayer = mutable.Map.empty[Int, String]

  /** Events that end after this epoch-ms time (the window's end) are not
    * recorded, so the untimed checks that follow do not count.
    */
  @volatile var cutoff: Double = Double.MaxValue

  def now(): Double = System.nanoTime() / 1e6 + Trace.epochOffsetMs

  /** Run `f` as a span of layer `name` for op `op`; jobs it submits are
    * tagged with the layer.
    */
  def span[A](spark: SparkSession, name: String, op: Int)(f: => A): A =
    if (!on) f
    else {
      val sc = spark.sparkContext
      sc.setLocalProperty(Trace.LayerKey, name)
      sc.setLocalProperty(Trace.OpKey, op.toString)
      val t0 = now()
      try f
      finally {
        spans.add(Span(name, t0, now(), op))
        sc.setLocalProperty(Trace.LayerKey, null)
        sc.setLocalProperty(Trace.OpKey, null)
      }
    }

  /** Mark `df`'s query execution as op `op`'s. An eager command (INSERT)
    * runs in a query execution of its own whose logical plan is `df`'s
    * analyzed plan, so that plan is marked too.
    */
  def tag(df: DataFrame, op: Int): Unit = if (on) {
    opOf.put(df.queryExecution, op)
    opOf.put(df.queryExecution.analyzed, op)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
        Trace.this.synchronized { if (e.time <= cutoff) {
      val p = Option(e.properties)
      val layer = p.flatMap(x => Option(x.getProperty(Trace.LayerKey)))
        .getOrElse("other")
      val op = p.flatMap(x => Option(x.getProperty(Trace.OpKey)))
        .map(_.toInt).getOrElse(-1)
      jobLayer(e.jobId) = (layer, op, e.time.toDouble)
      e.stageIds.foreach(stageLayer(_) = layer)
      val t = tasks.getOrElseUpdate(layer, new Tasks)
      t.jobs += 1
      t.stages += e.stageIds.size
    }}
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobLayer.remove(e.jobId).filter(_ => e.time <= cutoff).foreach {
        case (layer, op, t0) => jobs.add(Span(
          if (layer == "build") "build.job" else "exec.job",
          t0, e.time.toDouble, op))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m != null && e.taskInfo.finishTime <= cutoff) {
        val t = tasks.getOrElseUpdate(
          stageLayer.getOrElse(e.stageId, "other"), new Tasks)
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.scanBytes += m.inputMetrics.bytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.sinkRows += m.outputMetrics.recordsWritten
        t.sinkBytes += m.outputMetrics.bytesWritten
        t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.filter(_._2.endTimeMs <= cutoff).foreach {
        case (phase, s) => phases.add(qe -> Span(s"catalyst.$phase",
          s.startTimeMs.toDouble, s.endTimeMs.toDouble, -1))
      }
  }

  def install(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Forget everything recorded so far (set-up and warm-up) but the spans
    * of layer `keep`, with its jobs, its task counters and the Catalyst
    * phases that ran inside its spans.
    */
  def reset(keep: String = ""): Unit = synchronized {
    spans.removeIf(_.name != keep)
    val kept = spans.asScala.toSeq
    phases.removeIf { case (_, p) =>
      !kept.exists(k => k.start <= p.start && p.end <= k.end) }
    jobs.removeIf(_.name != s"$keep.job")
    tasks.filterInPlace((layer, _) => layer == keep)
  }

  /** All spans of the measured window, with parents resolved: a listener
    * span's parent is the innermost layer span of its op that contains it
    * in time; a span of no op (stream batches, SET options) takes the
    * innermost layer span containing it.
    */
  def resolved(): IndexedSeq[Span] = synchronized {
    val own = spans.asScala.toIndexedSeq.sortBy(s => (s.start, -s.end))
    val ph = phases.asScala.toIndexedSeq.map { case (qe, p) =>
      val op = Option(opOf.get(qe)).orElse(Option(opOf.get(qe.logical)))
      op.fold(p)(o => p.copy(op = o.intValue))
    }
    val all = own ++ ph ++ jobs.asScala
    def inner(s: Span, cands: Seq[Int]): Int =
      if (cands.isEmpty) -1 else cands.minBy(i => all(i).end - all(i).start)
    all.indices.foreach { i =>
      val s = all(i)
      val encl = own.indices.filter { j =>
        j != i && own(j).start <= s.start && own(j).end >= s.end &&
          (own(j).end - own(j).start) >= (s.end - s.start) &&
          (s.op < 0 || own(j).op == s.op || own(j).op < 0)
      }
      s.parent = inner(s, encl)
    }
    all
  }
}

object Trace {
  val LayerKey = "perfbench.layer"
  val OpKey = "perfbench.op"
  val epochOffsetMs: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  /** Per-layer self time: each span's duration minus the part of it that
    * its child spans cover.
    */
  def selfTimes(all: IndexedSeq[Span]): Map[String, Double] = {
    val kids = all.indices.groupBy(i => all(i).parent)
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    all.indices.foreach { i =>
      val s = all(i)
      val covered = kids.getOrElse(i, Nil).map(all(_))
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
        .foldLeft((0.0, Double.MinValue)) { case ((sum, hi), (a, b)) =>
          if (b <= hi) (sum, hi)
          else (sum + b - math.max(a, hi), b)
        }._1
      self(s.name) += (s.end - s.start - covered) / 1000.0
    }
    self.toMap
  }
}
