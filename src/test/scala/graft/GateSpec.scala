package graft

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Gate

/** `Gate.run` is the library's one driver-gate chokepoint: type guard,
  * one count against the cap (inclusive), one bounded collect, then the
  * caller's driver fold — or its distributed fold. These tests pin the
  * boundary, the job budget of each path, and (by source lint) that no
  * other `src/main` site hand-rolls the count-then-collect gate.
  */
class GateSpec extends SparkTestBase {

  import spark.implicits._

  /** Five (src, dst) bigint rows behind a local checkpoint — the shape the
    * graph gates see: RDD-backed, so both count and collect are jobs.
    */
  private def edges: DataFrame =
    spark.range(5)
      .select(col("id").as("src"), (col("id") + 1L).as("dst"))
      .localCheckpoint()

  /** Which fold `Gate.run` picked for `input` at `cap`. */
  private def path(input: DataFrame, cap: Long): String = {
    var ran = ""
    Gate.run[(Long, Long)](input, cap) { es =>
      ran = s"driver:${es.length}"; spark.emptyDataFrame
    } {
      ran = "distributed"; spark.emptyDataFrame
    }
    ran
  }

  /** Runs `body` under a fresh job group; `seen()` drains the listener bus
    * and returns the short call sites of the group's jobs so far.
    */
  private def withJobLog[A](body: (() => Seq[String]) => A): A = {
    val sc = spark.sparkContext
    val group = s"gate-spec-${java.util.UUID.randomUUID()}"
    val sites = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          // the result stage is named after the job's call site
          sites.add(e.stageInfos.maxBy(_.stageId).name)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "GateSpec")
    try body { () => ListenerBus.drain(sc); sites.asScala.toSeq }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  test("count == cap takes the driver fold, with every row collected") {
    assert(path(edges, cap = 5L) === "driver:5")
  }

  test("count == cap + 1 takes the distributed fold") {
    assert(path(edges, cap = 4L) === "distributed")
  }

  test("the type guard reads exact column types, by position") {
    assert(Gate.reads[(Long, Long)](edges))
    assert(!Gate.reads[(Long, Long)](
      edges.select(col("src").cast("int"), col("dst"))))
    assert(!Gate.reads[(Long, Long)](edges.select(col("src"))))
    assert(!Gate.reads[(Long, Long)](edges.withColumn("w", lit(1L))))
    assert(Gate.reads[(String, String, Long)](
      Seq(("a", "b", 1L)).toDF("f", "t", "ppm")))
    assert(path(Seq(("a", "b")).toDF("src", "dst"), Long.MaxValue) ===
      "distributed")
  }

  test("input failing the type guard starts no job before the distributed fold") {
    val ints = edges.select(col("src").cast("int"), col("dst").cast("int"))
    withJobLog { seen =>
      var before: Seq[String] = Seq("unset")
      Gate.run[(Long, Long)](ints, Long.MaxValue)(_ => fail("driver fold ran")) {
        before = seen(); spark.emptyDataFrame
      }
      assert(before === Nil)
    }
  }

  test("the driver path runs exactly one count job and one collect job") {
    val in = edges
    // Without adaptive execution each action is one job; with it a count
    // adds a separate job for its shuffle map stage.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try withJobLog { seen =>
      Gate.run[(Long, Long)](in, 5L)(_ => spark.emptyDataFrame)(
        fail("distributed fold ran"))
      val jobs = seen()
      assert(jobs.size === 2, jobs)
      assert(jobs.head.startsWith("count at "), jobs)
      assert(jobs(1).startsWith("collect at "), jobs)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  // ---------------------------------------------------------------------
  // Source lint: no hand-rolled driver gate outside Gate.scala.
  //
  // A driver gate is a `.count()` compared against a non-literal bound —
  // directly (`df.count() <= cap`) or through a val (`val n = df.count()`
  // then `n <= cap`). The collect may sit in a helper, so the lint keys
  // on the comparison alone.
  // Count-vs-cap branches that choose a BROADCAST hint within the next
  // lines (Graph.triangles' intersect cap, Dedup.incrementalPairs' key
  // cap) pick a join strategy, not the driver, and are not gates here.
  // ---------------------------------------------------------------------

  /** Hand-written gates, by (file, enclosing def), with the reason. */
  private val HandWrittenGates: Map[(String, String), String] = Map(
    ("Graph.scala", "sigmaBfs") ->
      ("its second bound, |roots|·|nodes| ≤ cap, is known only after the " +
       "arcs are collected, so the decision cannot precede the collect"))

  private val CapCompare = """\.count\(\)\s*(<=|<|>=|>)\s*[A-Za-z_]""".r
  private val CountVal = """\bval\s+(\w+)\s*=.*\.count\(\)""".r.unanchored
  private val DefName = """\bdef\s+(\w+)""".r.unanchored

  private def scalaFiles(dir: File): Seq[File] = {
    val kids = Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq
    kids.filter(f => f.isFile && f.getName.endsWith(".scala")) ++
      kids.filter(_.isDirectory).flatMap(scalaFiles)
  }

  /** (file, enclosing def, 1-based line) of every driver gate under root. */
  private def driverGates(root: File): Seq[(String, String, Int)] =
    scalaFiles(root).filter(_.getName != "Gate.scala").sortBy(_.getPath)
      .flatMap { f =>
        val ls = new String(java.nio.file.Files.readAllBytes(f.toPath),
                            "UTF-8").split("\n").toSeq
        ls.indices.filter { i =>
          val l = ls(i).trim
          val near = ls.slice(i, i + 3).mkString("\n")
          def compared = CapCompare.findFirstIn(near).isDefined ||
            (l match {
              case CountVal(v) =>
                s"""\\b$v\\s*(<=|<|>=|>)\\s*[A-Za-z_]""".r
                  .findFirstIn(near).isDefined
              case _ => false
            })
          !l.startsWith("//") && !l.startsWith("*") &&
            l.contains(".count()") && compared &&
            !ls.slice(i, i + 6).exists(_.contains("broadcast("))
        }.map { i =>
          val owner = ls.take(i + 1).reverseIterator
            .collectFirst { case DefName(n) => n }.getOrElse("?")
          (f.getName, owner, i + 1)
        }
      }

  test("lint: every driver gate in src/main goes through Gate.run") {
    val root = new File("src/main/scala")
    assume(root.isDirectory, "run from the repo root")
    val found = driverGates(root)
    val stray = found.filterNot(g => HandWrittenGates.contains((g._1, g._2)))
    assert(stray.isEmpty,
      "count-vs-cap driver gates outside Gate.run (route them through it, " +
        "or register a reasoned exception):\n" +
        stray.map { case (f, d, n) => s"$f:$n in $d" }.mkString("\n"))
    // an exception that no longer exists must leave the registry too
    val stale = HandWrittenGates.keySet -- found.map(g => (g._1, g._2)).toSet
    assert(stale.isEmpty, s"registered hand-written gates not found: $stale")
  }
}
