package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Failure-injection analog of the reference's fail-point suite
  * (tests/test_failpoints.py, TDebugAction/TExecNodePhase,
  * common/thrift/PlanNodes.thrift:50-64): the reference kills plan
  * nodes at PREPARE/OPEN/GETNEXT and asserts queries fail cleanly or
  * succeed on retry. Spark's unit of retry is the task, so the analog
  * injects mid-query task kills (killTaskAttempt reschedules without
  * counting toward spark.task.maxFailures, which is 1 in local mode)
  * and asserts exactly-once sinks and unchanged query results.
  */
class FaultToleranceSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Arm a one-shot task killer. `stage` picks the victim: "first"
    * kills the first task to start after arming (the scan/map stage),
    * "later" waits for a task from any LATER stage (post-shuffle).
    * Returns the number of kills actually delivered.
    */
  private def withTaskKill(stage: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val killed = new AtomicInteger(0)
    val armed = new AtomicBoolean(true)
    val firstStage = new AtomicLong(-1L)
    val listener = new SparkListener {
      override def onTaskStart(t: SparkListenerTaskStart): Unit = {
        if (!armed.get()) return
        firstStage.compareAndSet(-1L, t.stageId.toLong)
        val isVictim = stage match {
          case "first" => true
          case "later" => t.stageId.toLong > firstStage.get()
        }
        if (isVictim && armed.compareAndSet(true, false)) {
          // the task has started per the event; deliver the kill, with
          // a few retries in case the executor thread isn't registered
          // in the scheduler's running set yet
          var ok = false
          var tries = 0
          while (!ok && tries < 20) {
            ok = try {
              sc.killTaskAttempt(t.taskInfo.taskId, interruptThread = false,
                reason = "fault-injection: FaultToleranceSpec")
            } catch { case _: Throwable => false }
            if (!ok) { Thread.sleep(20); tries += 1 }
          }
          if (ok) killed.incrementAndGet()
        }
      }
    }
    sc.addSparkListener(listener)
    try body finally sc.removeSparkListener(listener)
    killed.get()
  }

  /** A deterministic dataframe whose tasks are slow enough for the kill
    * to land mid-flight (sleep(1) blocks ~1ms per row, dialect builtin).
    */
  private def slowDf(n: Int, parts: Int) = {
    Engine.configure(spark)
    spark.range(0, n, 1, parts)
      .filter(expr("sleep(1)"))
      .select(col("id"), (col("id") % 97).as("k"),
        (col("id") * 31 % 1000).as("v"))
  }

  test("task killed mid parquet INSERT OVERWRITE: exactly-once output") {
    val dir = java.nio.file.Files.createTempDirectory("ft_sink").toString
    val expected = (0L until 2000L).map(id => (id, id % 97, id * 31 % 1000))
    val kills = withTaskKill("first") {
      slowDf(2000, 8).write.mode(SaveMode.Overwrite).parquet(dir)
    }
    assert(kills == 1, "fault was not injected")
    val got = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // the killed attempt's files must not be committed: no dups, no gaps
    assert(got == expected)
  }

  test("map task killed mid shuffle: aggregation result unchanged") {
    val clean = slowDf(0, 1).sparkSession
      .range(0, 2000).select((col("id") % 97).as("k"),
        (col("id") * 31 % 1000).as("v"))
      .groupBy("k").agg(sum("v").as("s")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    var got: Seq[(Long, Long)] = Nil
    val kills = withTaskKill("first") {
      got = slowDf(2000, 8).groupBy("k").agg(sum("v").as("s")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    assert(kills == 1, "fault was not injected")
    assert(got == clean)
  }

  test("reduce task killed post-shuffle: result unchanged on retry") {
    val clean = spark.range(0, 2000).select((col("id") % 97).as("k"),
        (col("id") * 31 % 1000).as("v"))
      .groupBy("k").agg(sum("v").as("s")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    var got: Seq[(Long, Long)] = Nil
    val kills = withTaskKill("later") {
      // sleep on the REDUCE side so the post-shuffle task is slow
      got = spark.range(0, 2000, 1, 8)
        .select((col("id") % 97).as("k"), (col("id") * 31 % 1000).as("v"))
        .groupBy("k").agg(sum("v").as("s"))
        .filter(expr("sleep(1)"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    assert(kills == 1, "fault was not injected")
    assert(got == clean)
  }

  test("task killed mid KV-sink write: idempotent keyed puts converge") {
    import graft.sources.KvStore
    val table = "ft_kv"
    KvStore.drop(table)
    val kills = withTaskKill("first") {
      slowDf(1000, 8)
        .select(col("id").as("key"), (col("v") * 1.0).as("val"),
          concat(lit("t"), col("k")).as("tag"))
        .write.format("graft.sources.KvStoreSink")
        .option("table", table).mode(SaveMode.Append).save()
    }
    assert(kills == 1, "fault was not injected")
    val m = KvStore.table(table)
    assert(m.size() == 1000)
    for (id <- 0L until 1000L) {
      val cell = m.get(id)
      assert(cell != null && cell.v == (id * 31 % 1000).toDouble &&
        cell.tag == s"t${id % 97}")
    }
    KvStore.drop(table)
  }

  test("task killed mid window aggregate: result unchanged (star-edge shape)") {
    // the r9 dedup paths (star edges, ngram DF cap, survivor pick) all
    // lean on window aggregates over a partition key — kill a task in
    // the window stage and assert the retried result is unchanged
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k")
    val clean = spark.range(0, 2000, 1, 8)
      .select(col("id"), (col("id") % 97).as("k"))
      .withColumn("mn", min("id").over(w))
      .filter(col("id") > col("mn"))
      .select("k", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    var got: Seq[(Long, Long)] = Nil
    val kills = withTaskKill("later") {
      got = slowDf(2000, 8).select(col("id"), col("k"))
        .withColumn("mn", min("id").over(w))
        .filter(expr("sleep(1)")) // slow the WINDOW stage so the kill lands
        .filter(col("id") > col("mn"))
        .select("k", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    }
    assert(kills == 1, "fault was not injected")
    assert(got == clean)
  }

  test("reliable-checkpoint CC fails fast without a checkpoint dir") {
    // df.checkpoint(true) without a dir dies mid-job on round 1 with a
    // generic SparkException; the operator must reject up front instead.
    // (Registered before the end-to-end case below, which is the only
    // place in the tree that sets the shared session's checkpoint dir.)
    import graft.operators.{DedupOps, GraphOps}
    import spark.implicits._
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "precondition: no suite may set the checkpoint dir before this test")
    spark.conf.set("graft.reliableCheckpoint", "true")
    try {
      val e = intercept[IllegalArgumentException] {
        GraphOps.connectedComponents(Seq((1L, 2L)).toDF("x", "y"),
          DedupOps.CcRounds).count()
      }
      assert(e.getMessage.contains("setCheckpointDir"), e.getMessage)
    } finally spark.conf.set("graft.reliableCheckpoint", "false")
  }

  test("reliable-checkpoint CC survives a mid-round task kill, labels unchanged") {
    // the conf-gated mode (graft.reliableCheckpoint=true) answers
    // executor loss on long cluster jobs; locally the exercisable analog
    // is a mid-round task kill — the round must retry through the
    // reliable checkpoint store and converge to the same labels
    import graft.operators.{DedupOps, GraphOps}
    // 40 chains of length 50 (diameter 49: several star rounds)
    def chainPairs(slow: Boolean) = {
      val base = spark.range(0, 2000, 1, 8)
        .filter(col("id") % 50 =!= 49)
      (if (slow) base.filter(expr("sleep(1)")) else base)
        .select(col("id").as("x"), (col("id") + 1).as("y"))
    }
    Engine.configure(spark)
    val clean = GraphOps.connectedComponents(chainPairs(slow = false),
        DedupOps.CcRounds)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("graft.reliableCheckpoint", "true")
    var got: Seq[(Long, Long)] = Nil
    try {
      val kills = withTaskKill("first") {
        got = GraphOps.connectedComponents(chainPairs(slow = true),
            DedupOps.CcRounds)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      }
      assert(kills == 1, "fault was not injected")
    } finally spark.conf.set("graft.reliableCheckpoint", "false")
    assert(got == clean)
    // the reliable store was actually used: round outputs landed in dir
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0, s"no reliable checkpoint files written under $dir")
  }

  test("task killed mid stateful star-emission micro-batch: edge output exactly-once") {
    // the flatMapGroupsWithState append path (StreamNearDedup) under a
    // task kill: the retried micro-batch must leave state AND the
    // append output exactly-once — compared as a multiset against an
    // unkilled run (multi-band duplicate edges are deterministic)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    Engine.configure(spark)
    val docs = Engine.table(spark, TestSpark.sf, "documents")
      .selectExpr("doc_id", "text").limit(200).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    def run(name: String, kill: Boolean): (Seq[(Long, Long)], Int) = {
      val input = MemoryStream[(Long, String)]
      val df = input.toDF().toDF("doc_id", "text")
      val slowed = if (kill) df.filter(expr("sleep(2)")) else df
      val q = graft.streaming.StreamNearDedup.starEdges(slowed)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      var kills = 0
      try {
        input.addData(docs.take(100): _*)
        if (kill) kills = withTaskKill("first") { q.processAllAvailable() }
        else q.processAllAvailable()
        input.addData(docs.drop(100): _*)
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table(name).select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      spark.catalog.dropTempView(name)
      (rows, kills)
    }
    val (clean, _) = run("ft_star_clean", kill = false)
    val (killed, kills) = run("ft_star_kill", kill = true)
    assert(kills == 1, "fault was not injected")
    assert(clean.nonEmpty)
    assert(killed.sorted == clean.sorted)
  }

  test("task killed mid streaming micro-batch: state stays exactly-once") {
    // the streaming analog of the reference's fail-points: kill a task
    // inside a stateful micro-batch; the batch's task retry must leave
    // the aggregation state exactly-once
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    Engine.configure(spark)
    val input = MemoryStream[Long]
    val counts = input.toDS()
      .filter(expr("sleep(1)"))
      .select((col("value") % 7).as("k"))
      .groupBy("k").count()
    val q = counts.writeStream.format("memory")
      .queryName("ft_stream").outputMode("complete").start()
    try {
      input.addData(0L until 700L: _*)
      var kills = 0
      kills = withTaskKill("first") { q.processAllAvailable() }
      assert(kills == 1, "fault was not injected")
      val got = spark.table("ft_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == (0L until 7L).map(k => (k, 100L)), got.toString)
    } finally q.stop()
  }
}
