package graft.tools

import graft.{Engine, SparkEntry}

/** Dev scratchpad against the local testdata (SPARK_GRAFT_SF_DIR,
  * default sf0.001). An argument naming a [[SparkEntry]] entry prints
  * that entry's formatted physical plan and first rows; any other
  * argument runs as SQL through [[Engine.sql]]. With no arguments it
  * prints every table's schema.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Engine.session("8")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    try {
      if (args.nonEmpty) {
        val entries = SparkEntry.queries
        args.foreach { q =>
          println(s"-- $q")
          try entries.get(q) match {
            case Some(run) =>
              val df = run(spark, dir)
              df.explain("formatted")
              df.show(30, truncate = false)
            case None => Engine.sql(spark, dir, q).show(30, truncate = false)
          } catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
        }
      } else {
        for (t <- Engine.tableNames) {
          val df = Engine.table(spark, dir, t)
          println(s"== $t: ${df.schema.simpleString}")
        }
        Engine.sql(spark, dir,
          "SELECT fnv_hash('hello') h, strleft('abcdef', 3) l, quotient(11, 3) q").show()
      }
    } finally spark.stop()
  }
}
