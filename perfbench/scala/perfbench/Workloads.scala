package perfbench

import java.sql.Timestamp

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}

import graft.{ScdConfig, ScdEngine, ScdInvariants, SparkEntry}
import graft.operators.{Scd2, Scd2Join}
import graft.plans.NativeAsOf

/** One timed call into the engine. A [[FrameOp]] builds a DataFrame through
  * a public operator (construct) and materializes it with a `noop` write
  * (exec); a [[CallOp]] is a call that runs its own jobs (a merge). `rows`
  * is the op's input rows, or -1 when only the listener can count them. */
sealed trait Op { def name: String; def rows: Long }
final case class FrameOp(name: String, rows: Long, build: () => DataFrame) extends Op
final case class CallOp(name: String, rows: Long, run: () => Unit) extends Op

trait Workload {
  /** One repetition of the set-up that the timed run starts from. */
  def setup(rep: Int): Unit
  /** Warm-up after the last set-up, then the start state for the timed run. */
  def prepare(): Map[String, Any]
  /** Timed ops in order, grouped into rounds; the window ends only at a
    * round boundary, so every run times whole rounds of the same mix. */
  def rounds: Iterator[Seq[Op]]
  /** Checks run after the timed window over the first `done` ops (all
    * succeeded ops, in order). Returns (ok, details). */
  def check(done: Seq[Op]): (Boolean, Map[String, Any])
  /** Extra per-op numbers for the traced run. */
  def opInfo(op: Op): Map[String, Any] = Map.empty
}

object Workloads {
  val cfg: ScdConfig = ScdConfig(uniqueKey = Seq("key"),
                                 changeExclude = Seq("row_id", "payload"),
                                 deletedAtCol = Some("deleted_at"))

  /** Order-independent content fingerprint: row count, 32-bit-masked sum and
    * xor of a per-row xxhash64 over the columns in name order. */
  def fingerprint(df: DataFrame): String = {
    val h = xxhash64(df.columns.sorted.map(col).toSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(0xFFFFFFFFL)), bit_xor(h)).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:${if (r.isNullAt(2)) 0L else r.getLong(2)}"
  }

  def bytesUnder(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  def copyDir(spark: SparkSession, from: String, to: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(from)
    val fs = src.getFileSystem(conf)
    fs.delete(new Path(to), true)
    FileUtil.copy(fs, src, fs, new Path(to), false, conf)
  }

  def ts(s: Long): Timestamp = new Timestamp(s * 1000L)
  // Mirrors gen.py: version timestamps live in 1e6-second slots from 2020-01-01.
  val BaseS = 1577836800L
  val SlotS = 1000000L
}

import Workloads._

/** Write path: seeded out-of-order batches merged into the dimension, one
  * `ScdEngine.merge` per op. */
final class Ingest(spark: SparkSession, work: String) extends Workload {
  private val in = s"$work/in"
  private val target = s"$work/dim"
  private def setupPath(rep: Int) = s"$work/setup_$rep"
  private var lastRep = 0
  private lazy val batchIds: Seq[Int] =
    spark.read.parquet(s"$in/batches").select("batch").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
  private lazy val batchRows: Map[Int, Long] =
    spark.read.parquet(s"$in/batches").groupBy("batch").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
  private def batch(b: Int): DataFrame =
    spark.read.parquet(s"$in/batches").filter(col("batch") === b).drop("batch")
  private def initial: DataFrame = spark.read.parquet(s"$in/initial.parquet")

  def setup(rep: Int): Unit = {
    ScdEngine.merge(spark, initial, setupPath(rep), cfg)
    lastRep = rep
  }

  /** Warm-up merges, of the last batches into the first set-up copy; the
    * timed sequence never reaches those batches. */
  private val WarmupMerges = 2

  def prepare(): Map[String, Any] = {
    batchIds.takeRight(WarmupMerges).foreach(b =>
      ScdEngine.merge(spark, batch(b), setupPath(0), cfg))
    val setupFp = fingerprint(spark.read.parquet(setupPath(lastRep)))
    copyDir(spark, setupPath(lastRep), target)
    val fp = fingerprint(spark.read.parquet(target))
    require(fp == setupFp, s"restored dimension $fp != set-up copy $setupFp")
    Map("table_fingerprint" -> fp, "table_bytes" -> bytesUnder(spark, target))
  }

  def rounds: Iterator[Seq[Op]] = batchIds.dropRight(WarmupMerges).iterator.map { b =>
    Seq(CallOp(s"batch_$b", batchRows(b),
               () => ScdEngine.merge(spark, batch(b), target, cfg)))
  }

  override def opInfo(op: Op): Map[String, Any] = {
    val b = op.name.stripPrefix("batch_")
    Map("batch_bytes" -> bytesUnder(spark, s"$in/batches/batch=$b"),
        "table_bytes" -> bytesUnder(spark, target))
  }

  def check(done: Seq[Op]): (Boolean, Map[String, Any]) = {
    val merged = done.map(_.name.stripPrefix("batch_").toInt)
    val all = merged.foldLeft(initial)((df, b) => df.unionByName(batch(b)))
    val table = spark.read.parquet(target)
    val incremental = fingerprint(table)
    val fullRefresh = fingerprint(Scd2.initialLoad(all, cfg))
    val violations = ScdInvariants.checkAll(table, cfg).filter(_._2 != 0)
    (incremental == fullRefresh && violations.isEmpty,
     Map("incremental_fingerprint" -> incremental,
         "full_refresh_fingerprint" -> fullRefresh,
         "invariant_violations" -> violations))
  }
}

/** Read path: as-of joins, point-in-time views and invariant checks over a
  * re-slotted dimension and a Zipf-skewed fact table, all parquet on disk. */
final class AsOfRead(spark: SparkSession, work: String) extends Workload {
  private val in = s"$work/in"
  private def dimPath(rep: Int) = s"$work/dim_$rep"
  private var dimAt = ""
  private var dimRows = 0L
  private var factRows = 0L
  private def dim = spark.read.parquet(dimAt)
  private def facts = spark.read.parquet(s"$in/facts.parquet")
  private val instant = ts(BaseS + 32 * SlotS)
  private val month = (ts(BaseS + 20 * SlotS), ts(BaseS + 20 * SlotS + 29 * 86400L))

  def setup(rep: Int): Unit = {
    val stream = spark.read.parquet(s"$in/dim_stream")
    for (b <- 0 to 1)
      ScdEngine.merge(spark, stream.filter(col("batch") === b).drop("batch"),
                      dimPath(rep), cfg)
    dimAt = dimPath(rep)
  }

  private def attrs(c: String) =
    dim.select("key", c, cfg.validFromCol, cfg.validToCol)

  private def enrich = Scd2Join.enrich(facts, "fts", dim, Seq("key"))
  private def native = {
    val d = dim
    NativeAsOf.join(facts, d.select(d.columns.map(c => col(c).as(s"d$c")).toSeq: _*),
                    Seq("key" -> "dkey"), "fts", s"d${cfg.validFromCol}")
  }
  private def fill(rel: String => DataFrame) =
    Scd2Join.asOfFill(Seq("t" -> rel("tier"), "r" -> rel("region")), Seq("key"))

  def prepare(): Map[String, Any] = {
    dimRows = dim.count()
    factRows = facts.count()
    // Warm-up: one round of the timed mix.
    rounds.next().foreach {
      case FrameOp(_, _, build) => build().write.format("noop").mode("overwrite").save()
      case CallOp(_, _, run) => run()
    }
    Map("table_fingerprint" -> fingerprint(dim), "dim_rows" -> dimRows,
        "fact_rows" -> factRows)
  }

  def rounds: Iterator[Seq[Op]] = Iterator.continually(Seq(
    FrameOp("enrich", factRows + dimRows, () => enrich),
    FrameOp("native_asof_join", factRows + dimRows, () => native),
    FrameOp("asof_fill", 2 * dimRows, () => fill(attrs)),
    FrameOp("as_of", dimRows, () => Scd2.asOf(dim, instant, cfg)),
    FrameOp("daily_snapshots", dimRows,
            () => Scd2.dailySnapshots(dim, month._1, month._2, cfg)),
    FrameOp("invariants_report", dimRows, () => ScdInvariants.report(dim, cfg))))

  def check(done: Seq[Op]): (Boolean, Map[String, Any]) = {
    val payload = Seq("tier", "region", "row_id", "payload", "deleted_at")
    val factCols = facts.columns.toSeq
    val viaEnrich = fingerprint(enrich.select(
      factCols.map(col) ++ payload.map(c => col(s"dim_$c")): _*))
    val viaNative = fingerprint(native.select(
      factCols.map(col) ++ payload.map(c => col(s"d$c").as(s"dim_$c")): _*))
    // Reference-exact containment join on a key slice.
    val slice = (c: String) => attrs(c).filter(col("key") % 97 === 13)
    val rels = Seq("t" -> slice("tier"), "r" -> slice("region"))
    val viaFill = Scd2Join.asOfFill(rels, Seq("key"))
    val viaJoin = Scd2Join(rels, Seq("key"))
    val fillFp = fingerprint(viaFill)
    val joinFp = fingerprint(viaJoin.select(viaFill.columns.map(col).toSeq: _*))
    (viaEnrich == viaNative && fillFp == joinFp &&
       viaFill.columns.toSeq == viaJoin.columns.toSeq,
     Map("enrich" -> viaEnrich, "native_asof_join" -> viaNative,
         "asof_fill_slice" -> fillFp, "scd2_join_slice" -> joinFp))
  }
}

/** The driver-query suite over generated star-schema tables: one op per
  * `SparkEntry.queries` entry, materialized like `graft.Bench`. The
  * untimed warm-up pass dumps every panel result for the DuckDB oracle
  * compare; the timed window then runs whole warm passes, each starting
  * from empty ResultCache directories. */
final class DriverMix(spark: SparkSession, work: String) extends Workload {
  private val data = s"$work/data"
  private val out = s"$work/oracle_out"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
                           "orders", "lineitem", "events", "documents", "embeddings")
  private var dumpErrors = Map.empty[String, String]
  /** A fixed stride sample of the non-streaming queries, in name order: the
    * same panel at any run length. The seed only generates the tables: with
    * a per-seed sample a short run would measure the sample, not the engine. */
  val panel: Seq[String] = {
    val names = SparkEntry.queries.keys.filterNot(_.contains("_stream")).toSeq.sorted
    (0 until DriverMix.PanelSize).map(i => names(i * names.size / DriverMix.PanelSize))
  }

  def setup(rep: Int): Unit =
    tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").count())

  /** Warm-up pass: each panel query once, its result dumped to parquet with
    * timestamps as micros and instants as TIMESTAMP_NTZ (as `graft.Verify`
    * writes them for the oracle compare). */
  def prepare(): Map[String, Any] = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    dumpErrors = panel.flatMap { q =>
      try {
        val df = SparkEntry.queries(q)(spark, data)
        df.select(df.schema.fields.toSeq.map { f =>
          f.dataType match {
            case TimestampType | DateType => col(f.name).cast(TimestampNTZType).as(f.name)
            case _ => col(f.name)
          }
        }: _*).coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
        None
      } catch { case e: Throwable => Some(q -> e.toString.take(300)) }
      finally spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }.toMap
    spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val oracle = SparkEntry.oracleSql
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
                                    Json(panel.filter(oracle.contains).map(q => q -> oracle(q)).toMap))
    Map("panel" -> panel)
  }

  def rounds: Iterator[Seq[Op]] = Iterator.continually(
    panel.map(q => FrameOp(q, -1L, () => SparkEntry.queries(q)(spark, data))))

  /** Per-query outcomes are judged by the oracle compare (`run.py`), which
    * fails every op of a query whose dump threw or differs from its twin. */
  def check(done: Seq[Op]): (Boolean, Map[String, Any]) =
    (true, Map("dump_errors" -> dumpErrors,
               "no_oracle" -> panel.filterNot(SparkEntry.oracleSql.contains)))
}

object DriverMix {
  val PanelSize = 8
}
