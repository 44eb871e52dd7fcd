package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runs one workload in one `local[4]` JVM and writes `result.json` into the
  * run's work directory: set-up times, one record per timed op, the check
  * outcome, and (traced) the spans and per-job task metrics. All metric
  * math happens in `stats.py`.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  */
object Main {
  /** Set-ups per run; `setup_s` takes their median. */
  private val SetupReps = 3
  private val CacheDirs = Seq("graft_lsh_cache", "graft_edge_cache")

  /** Entries of this JVM's per-process ResultCache directories. */
  private def cacheEntries(): Seq[File] =
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles()).toSeq.flatten
      .filter(d => CacheDirs.exists(d.getName.startsWith))
      .flatMap(d => Option(d.listFiles()).toSeq.flatten)

  private def clearCaches(): Unit = {
    def rm(f: File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }
    cacheEntries().foreach(rm)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def heapAfterGcMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new File(opt("work")).getAbsolutePath

    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val listener = new JobListener
    sc.addSparkListener(listener)
    val tracer = new Tracer(sc, traced)

    val wl: Workload = workload match {
      case "scd2_ingest" => new Ingest(spark, work)
      case "asof_read" => new AsOfRead(spark, work)
      case "driver_mix" => new DriverMix(spark, work)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    def timed(body: => Unit): Double = {
      val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
    }
    val setupS = (0 until SetupReps).map(r => timed(wl.setup(r)))
    var start: Map[String, Any] = Map.empty
    val warmS = timed { start = wl.prepare() }
    sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    clearCaches()
    val startCache = cacheEntries().size
    require(startCache == 0, s"ResultCache not empty at start: $startCache entries")

    // ---- timed window: closed loop, one client, whole rounds, each from
    // empty ResultCache directories
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val okOps = mutable.ArrayBuffer.empty[Op]
    val gc0 = gcSeconds()
    val firstOpEpochS = System.currentTimeMillis() / 1e3
    val w0 = System.nanoTime()
    val deadline = w0 + (seconds * 1e9).toLong
    val rounds = wl.rounds
    while (System.nanoTime() < deadline && rounds.hasNext) {
      clearCaches()
      for (op <- rounds.next()) {
        val id = ops.size
        val cache0 = if (traced) cacheEntries().size else 0
        var phases = Map.empty[String, Double]
        var cacheRead = false
        val t = System.nanoTime()
        val err = try {
          tracer.op(id) {
            op match {
              case FrameOp(_, _, build) =>
                val df: DataFrame = tracer.span(id, "construct")(build())
                if (traced) {
                  tracer.span(id, "catalyst")(df.queryExecution.executedPlan)
                  phases = df.queryExecution.tracker.phases.map { case (k, v) =>
                    k -> v.durationMs.toDouble }
                  cacheRead = df.inputFiles.exists(f => CacheDirs.exists(f.contains))
                }
                tracer.span(id, "exec")(df.write.format("noop").mode("overwrite").save())
              case CallOp(_, _, run) => tracer.span(id, "scdengine.merge")(run())
            }
          }
          None
        } catch { case e: Throwable => Some(e.toString.take(500)) }
        val opS = (System.nanoTime() - t) / 1e9
        val rec = mutable.LinkedHashMap[String, Any](
          "name" -> op.name, "s" -> opS, "ok" -> err.isEmpty, "rows" -> op.rows,
          "error" -> err)
        if (traced) {
          val persisted = sc.getPersistentRDDs
          rec ++= Map(
            "rdds_persisted" -> persisted.size,
            "held_bytes" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum,
            "cache_entries_written" -> (cacheEntries().size - cache0),
            "cache_read" -> cacheRead,
            "catalyst_ms" -> phases) ++ wl.opInfo(op)
        }
        sc.getPersistentRDDs.values.foreach(_.unpersist(true))
        ops += rec.toMap
        if (err.isEmpty) okOps += op
      }
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    val gcS = gcSeconds() - gc0
    val heapMb = heapAfterGcMb()

    val (ok, details) =
      try wl.check(okOps.toSeq)
      catch { case e: Throwable => (false, Map("check_error" -> e.toString.take(500))) }
    Bus.drain(sc)
    val jobs = listener.synchronized(listener.jobs.values.map(_.json).toList)
    val result = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "session_s" -> sessionS, "setup_reps_s" -> setupS, "warmup_s" -> warmS,
      "first_op_epoch_s" -> firstOpEpochS,
      "start_state" -> (start + ("cache_entries" -> startCache)),
      "window_s" -> windowS, "gc_s" -> gcS, "retained_heap_mb" -> heapMb,
      "ops" -> ops, "check_ok" -> ok, "check" -> details,
      "spans" -> tracer.spans.map(_.json), "jobs" -> jobs)
    java.nio.file.Files.writeString(new File(work, "result.json").toPath, Json(result))
    spark.stop()
  }
}
