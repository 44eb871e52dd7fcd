package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Dev tool: per-query timer. After one warm-up `SparkEntry.entry` run,
  * each named query runs twice and prints its wall time split three ways:
  * DataFrame construction (including the eager jobs checkpoints and gates
  * fire), Catalyst planning (`executedPlan`), and execution (a `noop`
  * write). Persisted RDDs are released between queries, as `graft.Bench`
  * does.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sfDir> runMain graft.tools.QBench <query> ...
  * (sfDir defaults to the sf0.1 test data)
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    def s(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
    for (rep <- 1 to 2; name <- args) {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      println(f"[qbench] rep$rep $name ${s(t0, t3)}%.2f s " +
        f"construct=${s(t0, t1)}%.2f plan=${s(t1, t2)}%.2f " +
        f"exec=${s(t2, t3)}%.2f")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
