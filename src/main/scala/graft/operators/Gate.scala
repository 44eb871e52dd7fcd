package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder}

/** The driver gate: the one place an operator decides between folding a
  * small input on the driver and running its distributed fold.
  *
  * Dimension-grain relations (nation trade ≤ 625 arcs, calendar-bounded
  * series, event-type Markov chains) spend seconds on per-round Spark
  * scheduling where a driver fold costs milliseconds; the gate bounds the
  * collected relation by `cap`, so driver memory stays bounded by
  * construction. Each site's two folds are bit-identical across the gate
  * (pinned by its open/shut identity spec).
  *
  * The decision, in order:
  *  1. type guard — every input column carries exactly the type `T`'s
  *     encoder reads. The driver folds rebuild LOCAL relations from the
  *     collected values, so an input in another type (an IntegerType edge
  *     list the distributed fold would propagate into its output schema,
  *     or a string id a `Long` fold cannot read) takes the distributed
  *     path. The guard is schema-only: failing it spends no job.
  *  2. one count job against `cap` (inclusive);
  *  3. one bounded collect job, handed to `local`.
  *
  * The gate neither checkpoints nor seals: each caller keeps its own
  * `Seal.Tracker` and materialization, so routing a site through here
  * adds and removes no Spark job.
  */
private[graft] object Gate {

  /** True when `df`'s columns match `T`'s encoder column for column, by
    * position and exact data type (nullability aside).
    */
  def reads[T: Encoder](df: DataFrame): Boolean = {
    val want = implicitly[Encoder[T]].schema.fields
    val have = df.schema.fields
    have.length == want.length &&
      have.zip(want).forall { case (h, w) => h.dataType == w.dataType }
  }

  def run[T: Encoder](input: DataFrame, cap: Long)
                     (local: Array[T] => DataFrame)
                     (distributed: => DataFrame): DataFrame =
    if (reads[T](input) && input.count() <= cap) local(input.as[T].collect())
    else distributed
}
