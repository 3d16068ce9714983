package graft.kernel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pure change-data kernels shared by the streaming engine and the query
  * surface. These re-express the reference's insertion-order-dependent
  * "first/last" semantics (media.py:68-84, oryx.py:345-377 in
  * dominictarro/Borderlands) with an explicit total order `(lsn, tiebreak)`,
  * which is the only way they stay deterministic on a shuffled cluster.
  *
  * Scale notes: each kernel is a single shuffle on the key columns. The
  * MERGE engine does not call them: its fused merge window applies the same
  * last-wins rule once, inside its single range shuffle.
  */
object ChangeOps {

  /** Max-LSN-wins dedup: keep exactly one row per key, the one with the
    * greatest (ordCols...) tuple. Reference: media.py:68-84 keeps the FIRST
    * row per key relying on insertion order; with an explicit LSN the same
    * policy is "highest priority wins" and is order-shuffle invariant.
    *
    * One shuffle on `keyCols`. Window row_number + filter compiles to a
    * single sort-based window exec; for moderate fan-in this beats
    * groupBy(max_by(struct)) because it avoids building wide structs.
    */
  def dedupLastWins(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ordCols.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Running ordinal per key = the reference's `calculate_case_id`
    * (oryx.py:345-377: cumsum(1) over key window, parse order implicit).
    * Here order is the explicit `ordCols` total order.
    */
  def caseId(df: DataFrame, keyCols: Seq[String], ordCols: Seq[Column], out: String = "case_id"): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ordCols: _*)
    df.withColumn(out, row_number().over(w))
  }

  /** Keyed merge with precedence (reference media.py:68-84: union current
    * state + candidates, keep current when both exist). `priority` ascending:
    * lowest priority value wins; ties broken by `tiebreak` ascending.
    */
  def mergePrecedence(
      current: DataFrame,
      incoming: DataFrame,
      keyCols: Seq[String],
      tiebreak: Seq[Column]): DataFrame = {
    val tagged = current.withColumn("__prio", lit(0))
      .unionByName(incoming.withColumn("__prio", lit(1)), allowMissingColumns = true)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((col("__prio") +: tiebreak).map(_.asc): _*)
    tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__prio")
  }
}
