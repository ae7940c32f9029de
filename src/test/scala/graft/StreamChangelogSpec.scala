package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ChangeOps
import graft.streaming.{FileReplay, StreamChangelog}
import graft.streaming.StreamChangelog.LogRow

/** Pins for streaming changelog resolution: the final emission per key
  * equals the batch last-writer-wins window under any micro-batch
  * split, state is bounded by distinct keys, and feeding the resolved
  * ops into the batch apply step reproduces applyChangelog exactly.
  */
class StreamChangelogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def replay(log: Seq[(Long, Long, String, String)], splits: Int)
      : (Map[Long, (Long, String, String)], Long) = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val name = s"cl_test_${System.nanoTime()}"
    val input = MemoryStream[(Long, Long, String, String)]
    val q = StreamChangelog.resolved(
        input.toDF().toDF("key", "seq", "op", "payload"))
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    var stateRows = -1L
    try {
      log.grouped(math.max(1, (log.size + splits - 1) / splits))
        .foreach { c => input.addData(c: _*); q.processAllAvailable() }
      val p = q.lastProgress
      if (p != null && p.stateOperators.nonEmpty)
        stateRows = p.stateOperators(0).numRowsTotal
    } finally q.stop()
    // last emission per key = the row with the max (seq, op) — winners
    // are monotone in that order, so max over emissions IS the last
    val fin = spark.table(name)
      .withColumn("rn", row_number().over(Window.partitionBy(col("key"))
        .orderBy(col("seq").desc, col("op").desc)))
      .filter(col("rn") === 1)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2),
        r.getString(3))).toMap
    spark.catalog.dropTempView(name)
    (fin, stateRows)
  }

  private val rnd = new scala.util.Random(17)
  private val log: Seq[(Long, Long, String, String)] =
    Seq.tabulate(300) { i =>
      (rnd.nextInt(40).toLong, i.toLong,
        if (rnd.nextBoolean()) "upsert" else "delete", s"p$i")
    }

  test("final resolution equals the batch window for 1-way and 5-way " +
    "splits; state = distinct keys") {
    val want = log.groupBy(_._1).map { case (k, ops) =>
      val b = ops.maxBy(o => (o._2, o._3))
      k -> (b._2, b._3, b._4)
    }
    val (one, _) = replay(log, 1)
    val (five, st) = replay(log, 5)
    assert(one == want)
    assert(five == want)
    assert(st == log.map(_._1).distinct.size.toLong)
  }

  test("resolved stream + batch apply == applyChangelog on the full log") {
    import spark.implicits._
    val snap = (0L to 50L).map(i => i -> s"v$i").toDF("key", "payload")
    val (fin, _) = replay(log, 4)
    val resolvedDf = fin.toSeq.map { case (k, (seq, op, p)) =>
      (k, seq, op, p) }.toDF("key", "seq", "op", "payload")
    val viaStream = ChangeOps.applyChangelog(snap, resolvedDf, "key")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val direct = ChangeOps.applyChangelog(snap,
        log.toDF("key", "seq", "op", "payload"), "key")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaStream == direct)
  }

  test("a query stopped halfway resumes from its checkpoint: offsets, " +
    "commits and state carry over") {
    import spark.implicits._
    // replay order is a random permutation of seq, so a key's winner
    // can sit in the first half and must come back from the state store
    val rnd = new scala.util.Random(29)
    val full = Seq.tabulate(400) { i =>
      (rnd.nextInt(50).toLong, i.toLong,
        if (rnd.nextBoolean()) "upsert" else "delete", s"p$i", rnd.nextInt())
    }
    val staged = FileReplay.write(
      full.toDF("key", "seq", "op", "payload", "ord"), Seq("ord"))
    val chunks = new File(staged).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq
    val src = Files.createTempDirectory("graft_restart_src").toFile
    val ckpt = Files.createTempDirectory("graft_restart_ckpt").toString
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, LogRow)]()
    val sink: (Dataset[LogRow], Long) => Unit =
      (ds, id) => ds.collect().foreach(r => emitted.add(id -> r))
    def run(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
      val q = StreamChangelog.resolved(
          FileReplay.read(spark, src.toString).drop("ord"))
        .writeStream.option("checkpointLocation", ckpt)
        .outputMode("update").foreachBatch(sink).start()
      try { q.processAllAvailable(); q.recentProgress.toSeq }
      finally q.stop()
    }
    def feed(fs: Seq[File]): Unit =
      fs.foreach(f => Files.move(f.toPath, new File(src, f.getName).toPath))
    // the shared session's value is whatever an earlier suite left
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      assert(chunks.size == 8)
      feed(chunks.take(4))
      val first = run().filter(_.numInputRows > 0)
      val firstRows = spark.read.parquet(src.toString).as[
        (Long, Long, String, String, Int)].collect().toSeq
      feed(chunks.drop(4))
      val second = run().filter(_.numInputRows > 0)

      assert(first.map(_.batchId) == (0L until 4L))
      // resumed, not replayed: batch ids continue and only the new
      // chunks are read
      assert(second.map(_.batchId) == (4L until 8L))
      assert(second.map(_.numInputRows).sum == full.size - firstRows.size)
      assert(second.last.stateOperators(0).numRowsTotal ==
        full.map(_._1).distinct.size.toLong)

      def lww(rows: Seq[(Long, Long, String, String, Int)]) =
        rows.groupBy(_._1).map { case (k, ops) =>
          val b = ops.maxBy(o => (o._2, o._3))
          k -> (b._2, b._3, b._4)
        }
      val want = lww(full)
      val restTail = lww(full.diff(firstRows))
      assert(restTail.exists { case (k, w) => w != want(k) },
        "no key's winner sits in the first half: the state restore is " +
          "untested")
      val last = emitted.toArray(Array.empty[(Long, LogRow)]).toSeq
        .groupBy(_._2.key).map { case (k, es) =>
          val r = es.maxBy(_._1)._2
          k -> (r.seq, r.op, r.payload)
        }
      assert(last == want)
      // every state delta the restart read back carries Hadoop's .crc
      // and Spark's checksum file
      val state = org.apache.commons.io.FileUtils.listFiles(
        new File(ckpt, "state"), null, true).toArray(Array.empty[File]).toSet
      val deltas = state.filter(_.getName.endsWith(".delta"))
      assert(deltas.size == 8 * 8) // 8 batches x 8 state partitions
      deltas.foreach { d =>
        val sib = (n: String) => state(new File(d.getParentFile, n))
        assert(sib(s".${d.getName}.crc") && sib(s"${d.getName}.crc"), d)
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      FileReplay.drop(staged)
      FileReplay.drop(src.toString)
      org.apache.commons.io.FileUtils.deleteQuietly(new File(ckpt))
    }
  }
}
