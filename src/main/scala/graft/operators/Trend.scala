package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-group trend fitting: closed-form OLS (slope / intercept / R²) from
  * INTEGER sufficient statistics.
  *
  * A regression per key over a 100 TB fact table must not collect series to
  * the driver or sort anything: ordinary least squares needs only the six
  * sums (n, Σx, Σy, Σxy, Σx², Σy²), each a combine-enabled aggregate — one
  * map-side-partial exchange on the group key and the fit is done. Keeping
  * x and y INTEGER (epoch-day index, event counts) makes the sums exact, so
  * the final double arithmetic is a fixed closed-form expression over exact
  * integers — bit-reproducible across engines, partitionings, and retries
  * (a float Σ would be addition-order-dependent and hash-unstable).
  *
  * The same sufficient-statistics algebra backs X118; this is its regression
  * face — the "is this key growing or dying" report every corpus/activity
  * dashboard needs (cf. growth-curve X169, which reports the raw series).
  */
object Trend {

  /** OLS of `yCol` (integer) against `xCol` (integer) per `keys` group:
    * `n, slope, intercept, r2`, doubles rounded to 6 decimals.
    *
    * Degenerate groups are explicit: a single point (or all-equal x) has no
    * slope — NULL slope/intercept; R² is NULL when y is constant (zero
    * variance) and the slope denominator is non-zero.
    */
  def fit(df: DataFrame, keys: Seq[String], xCol: Column, yCol: Column)
      : DataFrame = {
    val stats = df
      .select(keys.map(col) :+ xCol.cast("long").as("_x")
                :+ yCol.cast("long").as("_y"): _*)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_n"),
           sum(col("_x")).as("_sx"),
           sum(col("_y")).as("_sy"),
           sum(col("_x") * col("_y")).as("_sxy"),
           sum(col("_x") * col("_x")).as("_sxx"),
           sum(col("_y") * col("_y")).as("_syy"))
    // n*Sxx - Sx², n*Sxy - Sx*Sy, n*Syy - Sy² are exact longs; the two
    // divisions below are the only float steps.
    stats
      .withColumn("_dx", col("_n") * col("_sxx") - col("_sx") * col("_sx"))
      .withColumn("_dy", col("_n") * col("_syy") - col("_sy") * col("_sy"))
      .withColumn("_cov", col("_n") * col("_sxy") - col("_sx") * col("_sy"))
      .withColumn("slope",
        when(col("_dx") =!= 0L,
             round(col("_cov").cast("double") / col("_dx").cast("double"), 6)))
      .withColumn("intercept",
        when(col("_dx") =!= 0L,
             round((col("_sy").cast("double") -
                      col("_cov").cast("double") / col("_dx").cast("double") *
                      col("_sx").cast("double")) /
                     col("_n").cast("double"), 6)))
      // r16: cov² and dx·dy ride DECIMAL(38) before the double cast — at
      // sf0.1 fact grain the int64 products overflowed ANSI (cov ≈ 3e11
      // per brand ⇒ cov² ≈ 8e22). An exact DECIMAL integer casts to the
      // SAME double as the exact int64 did wherever int64 was defined, so
      // declared r2 values are unchanged at the gate SFs.
      .withColumn("r2",
        when(col("_dx") =!= 0L && col("_dy") =!= 0L,
             round((col("_cov").cast("decimal(38,0)") * col("_cov"))
                     .cast("double") /
                   (col("_dx").cast("decimal(38,0)") * col("_dy"))
                     .cast("double"), 6)))
      .select(keys.map(col) :+ col("_n").as("n")
                :+ col("slope") :+ col("intercept") :+ col("r2"): _*)
  }

  /** Max series length for [[pairSlopeMedian]]'s driver path: 4096 rows
    * is ≤ 8.4M pair slopes ≈ 67 MB of longs on the driver — the same
    * scheduling-floor-sized budget the Graph driver gates use (r15/r16
    * discipline). The day-grain callers are calendar-bounded (≤ ~2.5k
    * rows at ANY fact SF), so they take the driver path forever; the
    * distributed two-level fold runs verbatim above the gate.
    */
  private[graft] val PairSlopeDriverGateRows = 4096L

  /** Exact Theil–Sen pairwise-slope MEDIAN over an indexed series
    * (columns `i` — distinct 1..n index, `y` — integer level): one row
    * `(n_pairs, median_slope_milli)`, the ceil(n/2) order statistic of
    * the n(n−1)/2 sign-folded milli-slopes `(y_j−y_i)·1000 DIV (j−i)`
    * (truncating, negated when y falls — the q732-tier quantile_disc
    * convention); 0 rows when the series has no pair.
    *
    * r16 extraction (r15 verdict task-4 pattern): at ≤ `gateRows` input
    * rows the slope multiset folds ON THE DRIVER with the identical
    * integer arithmetic (`Math.*Exact` so the overflow regime errors
    * exactly like ANSI) — the distributed form burned its time shuffling
    * a |days|²-row near-unique slope relation through a groupBy plus
    * two window passes at scheduling-floor data sizes (q813: single
    * biggest non-stream batch bill after q488). Above the gate the
    * distributed two-level exact order statistic runs VERBATIM (the
    * moved q813 code): bucket prefix over ~thousands of coarse slope
    * buckets + per-bucket cumulative windows, both parallel-safe.
    * Identity across the gate is spec-pinned (TheilSenGateSpec).
    */
  def pairSlopeMedian(idx: DataFrame,
                      gateRows: Long = PairSlopeDriverGateRows): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = idx.sparkSession
    import spark.implicits._
    Gate.run[(Long, Long)](
        idx.select(col("i").cast("long"), col("y").cast("long")),
        gateRows) { rows =>
      val ys = {
        val a = new Array[Long](rows.length)
        rows.foreach { case (i, y) => a(i.toInt - 1) = y }
        a
      }
      val m = rows.length
      val slopes = new Array[Long](m * (m - 1) / 2)
      var p = 0
      var i = 0
      while (i < m) {
        var j = i + 1
        while (j < m) {
          val d = (j - i).toLong
          slopes(p) =
            if (ys(j) >= ys(i))
              Math.multiplyExact(Math.subtractExact(ys(j), ys(i)), 1000L) / d
            else
              -(Math.multiplyExact(Math.subtractExact(ys(i), ys(j)), 1000L) / d)
          p += 1
          j += 1
        }
        i += 1
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_pairs",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("median_slope_milli",
          org.apache.spark.sql.types.LongType, nullable = true)))
      val out: java.util.List[org.apache.spark.sql.Row] =
        if (slopes.isEmpty) java.util.Collections.emptyList()
        else {
          java.util.Arrays.sort(slopes)
          val k = ((slopes.length + 1L) / 2L).toInt
          java.util.Collections.singletonList(
            org.apache.spark.sql.Row(slopes.length.toLong, slopes(k - 1)))
        }
      spark.createDataFrame(out, schema)
    } {
      // distributed exact order statistic — the pre-extraction q813 code,
      // verbatim: |days|² slopes via the BNL pair join, then global cum =
      // DIMENSION-sized bucket prefix + per-bucket parallel cumulative
      // windows (truncating DIV bucketing is monotone in the slope, so
      // bucket order extends value order).
      val cells = idx.as("a")
        .join(broadcast(idx.as("b")), col("b.i") > col("a.i"))
        .select(expr(
          // first arm guards the divisor: this plan's aggregate pushdown
          // evaluates the projection before the BNL condition filters
          // i-ties (ANSI mode makes that a hard DIVIDE_BY_ZERO); the join
          // condition still drops those rows, so results are unchanged
          """CASE WHEN b.i <= a.i THEN 0L
            |WHEN b.y >= a.y
            |  THEN (b.y - a.y) * 1000L DIV (b.i - a.i)
            |ELSE -((a.y - b.y) * 1000L DIV (b.i - a.i)) END""".stripMargin)
                  .as("slope_milli"))
        .groupBy(col("slope_milli")).agg(count(lit(1)).as("cnt"))
        .withColumn("bkt", expr("slope_milli DIV 1000000L"))
      val wb = Window.partitionBy(graft.functions.DimKey.one)
        .orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bktTot = cells.groupBy(col("bkt")).agg(sum(col("cnt")).as("btot"))
        .withColumn("cum_b", sum(col("btot")).over(wb))
        .withColumn("before", col("cum_b") - col("btot"))
        .withColumn("n_pairs", sum(col("btot")).over(
          Window.partitionBy(graft.functions.DimKey.one)))
        .select("bkt", "before", "n_pairs")
      val ww = Window.partitionBy(col("bkt")).orderBy(col("slope_milli"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.join(broadcast(bktTot), Seq("bkt"))
        .withColumn("cum", col("before") + sum(col("cnt")).over(ww))
        .filter(expr("cum >= (n_pairs + 1L) DIV 2L AND " +
                     "cum - cnt < (n_pairs + 1L) DIV 2L"))
        .select(col("n_pairs"), col("slope_milli").as("median_slope_milli"))
    }
  }
}
