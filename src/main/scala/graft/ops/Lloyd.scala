package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one Lloyd (k-means) trainer of the vector quantizers: PQ trains `m`
  * sub-codebooks, IVF is the `m = 1` case (one subspace as wide as the
  * vector). The result is `books(s)(code)`, a `dim / m`-wide codeword per
  * subspace and code.
  *
  * Training set: the rows in `(sha256(id), id)` order — the order the DuckDB
  * oracle replays — of which one top-k job collects `cap + 1`. A row trains
  * only if it has exactly `dim` elements and no null or NaN; seeds are the
  * first `k` such rows. When the corpus fits the cap, the iterations run on
  * the driver: the state is `m × k × subDim` means, and a Spark job per
  * iteration would compute the same kilobytes. Past the cap the same
  * iterations run over the whole corpus, never a sample, so every corpus
  * size trains the full-corpus codebooks the oracle replays.
  *
  * Semantics in both paths: squared L2 summed left to right, ties go to the
  * smaller code, an empty code keeps its codeword. Only the float summation
  * order of the means differs between the paths.
  */
private[ops] object Lloyd {

  /** Rows collected to the driver for training; past it, training runs
    * distributed. Env-tunable.
    */
  def trainCap: Int =
    sys.env.getOrElse("GRAFT_ANN_TRAIN_CAP", "65536").toInt

  /** Train on a projected `(__id, __v: array<double>)` frame. `dim` is the
    * vector width, or `None` to take the first collected row's width.
    */
  def train(pv: DataFrame, dim: Option[Int], m: Int, k: Int,
            iters: Int): Array[Array[Array[Double]]] = {
    val cap = math.max(k, trainCap)
    val collected = pv
      .select(col("__v"), sha2(col("__id").cast("string"), 256).as("__h"),
        col("__id").as("__i"))
      .orderBy(col("__h"), col("__i")).limit(cap + 1)
      .collect().map(_.getSeq[Any](0))
    val d = dim.getOrElse(collected.find(_ != null).fold(0)(_.length))
    val rows = collected
      .filter(v => v != null && v.length == d &&
        !v.exists(x => x == null || x.asInstanceOf[Double].isNaN))
      .map(_.map(_.asInstanceOf[Double]).toArray)
    require(rows.nonEmpty, "empty corpus")
    val subDim = d / m
    val seeds = rows.take(k)
    val books = Array.tabulate(m, seeds.length)((s, c) =>
      seeds(c).slice(s * subDim, (s + 1) * subDim))
    if (collected.length <= cap) driverIters(rows, books, iters)
    else distributedIters(pv, d, books, iters)
  }

  private def driverIters(rows: Array[Array[Double]], books0: Array[Array[Array[Double]]],
                          iters: Int): Array[Array[Array[Double]]] = {
    val m = books0.length
    val ks = books0(0).length
    val subDim = books0(0)(0).length
    var books = books0
    for (_ <- 0 until iters) {
      val sums = Array.ofDim[Double](m, ks, subDim)
      val counts = Array.ofDim[Long](m, ks)
      for (v <- rows) {
        var s = 0
        while (s < m) {
          val off = s * subDim
          val book = books(s)
          var best = 0
          var bestD = Double.PositiveInfinity
          var c = 0
          while (c < ks) {
            val cw = book(c)
            var d = 0.0
            var j = 0
            while (j < subDim) { val x = v(off + j) - cw(j); d += x * x; j += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          counts(s)(best) += 1
          val acc = sums(s)(best)
          var j = 0
          while (j < subDim) { acc(j) += v(off + j); j += 1 }
          s += 1
        }
      }
      val prev = books
      books = Array.tabulate(m, ks)((s, c) =>
        if (counts(s)(c) == 0) prev(s)(c)
        else {
          val n = counts(s)(c).toDouble
          sums(s)(c).map(_ / n)
        })
    }
    books
  }

  /** One encode + one `posexplode` aggregate per iteration over the
    * persisted training rows; only the `m × k × subDim` means return to the
    * driver.
    */
  private def distributedIters(pv: DataFrame, dim: Int, books0: Array[Array[Array[Double]]],
                               iters: Int): Array[Array[Array[Double]]] = {
    val subDim = books0(0)(0).length
    // persist the projection itself: a filter above the persist would have
    // its conditions rewritten onto the projection's expressions, which
    // would then run once per condition
    val vs = pv.select(col("__v")).persist()
    val rows = vs.filter(size(col("__v")) === dim && !exists(col("__v"), x => x.isNull || isnan(x)))
    val sub = (col("pos") / subDim).cast("int")
    try {
      var books = books0
      for (_ <- 0 until iters) {
        val means = rows
          .select(graft.functions.AnnKernels.pqEncodeCol(col("__v"), books).as("__codes"),
            posexplode(col("__v")))
          .groupBy(sub.as("__s"), element_at(col("__codes"), sub + 1).as("__code"),
            (col("pos") % subDim).as("__j"))
          .agg(avg(col("col")))
          .collect()
        val next = books.map(_.map(_.clone()))
        for (r <- means) next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
        books = next
      }
      books
    } finally vs.unpersist()
  }
}
