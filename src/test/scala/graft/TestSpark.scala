package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Engine.session("8", "graft-test")
    // Orderly end-of-run teardown: the forked test JVM otherwise exits
    // straight into SparkContext's own shutdown hook (priority 50), and
    // any task still reporting its result (a streaming no-data batch, a
    // cancelled attempt's tail) hits the already-Terminated
    // TaskResultGetter pool — the `RejectedExecutionException ...
    // [Terminated]` teardown race VERIFY_r14 recorded under driver-box
    // load. Registering at HIGHER priority runs this before Spark's
    // hook on both normal exit and SIGTERM: stop leftover streams,
    // await active-job quiescence, then stop the session while the
    // scheduler is still healthy.
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      new Runnable {
        override def run(): Unit = try {
          s.streams.active.foreach(q => try q.stop() catch {
            case _: Throwable => ()
          })
          val tracker = s.sparkContext.statusTracker
          val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
          while (tracker.getActiveJobIds().nonEmpty &&
              System.nanoTime() < deadline) Thread.sleep(50)
          s.stop()
        } catch { case _: Throwable => () }
      }, 60)
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Run `body` with the session confs `kv` set, then restore each one. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val olds = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
