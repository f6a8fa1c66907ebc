package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RunningScan

/** Joint dense-integer row encoding — reimplementation of the reference's
  * `factorize` (`/root/reference/catabra_pandas/misc.py:1119-1318`).
  *
  * Equal rows (over `cols`) receive equal codes; codes are dense `0..n-1`.
  * `sort = true` orders keys lexicographically (nulls last, matching
  * NumPy's argsort placing NaN last); `sort = false` orders keys by first
  * appearance. Nulls are distinct, matchable factors (`misc.py:1166`).
  *
  * Plan: `distinct()` on the key columns (map-side combine shrinks this to
  * key cardinality), then each key's code is a running sum of 1 over the
  * distinct keys, ordered by the keys or by first appearance
  * ([[RunningScan.prefixSum]]: one range exchange, one totals job, no
  * single-partition step and no pin), then a broadcast-friendly join
  * back. The two-frame variant unions both key sets so equal rows across
  * frames share codes (`misc.py:1230-1260`); each of its two results
  * computes the code table again, so with `sort = false` the codes agree
  * across them when the frames' row order is reproducible (a scan, not
  * the output of a shuffle).
  */
object Factorize {

  /** df + `codeCol`. */
  def apply(
      df: DataFrame,
      cols: Seq[String],
      sort: Boolean = true,
      codeCol: String = "code"): DataFrame =
    attach(df, cols, codes(Seq(df), cols, sort), codeCol)

  /** `return_count` form (`misc.py:1140-1143`): the coded frame plus the
    * number of distinct keys (one count job over the distinct keys).
    */
  def withCount(
      df: DataFrame,
      cols: Seq[String],
      sort: Boolean = true,
      codeCol: String = "code"): (DataFrame, Long) = {
    val (keyed, order) = distinctKeys(Seq(df), cols, sort)
    (attach(df, cols, number(keyed, order), codeCol), keyed.count())
  }

  /** Joint factorization of two frames over parallel column lists:
    * returns both frames with a shared code space.
    */
  def joint(
      df1: DataFrame, cols1: Seq[String],
      df2: DataFrame, cols2: Seq[String],
      sort: Boolean = true,
      codeCol: String = "code"): (DataFrame, DataFrame) = {
    val canonical = cols1
    val n2 = df2.select(cols2.zip(canonical).map { case (c, a) => col(c).as(a) }: _*)
    val keyCodes = codes(Seq(df1.select(canonical.map(col): _*), n2), canonical, sort)
    (attach(df1, cols1, keyCodes, codeCol),
     attach(df2, cols2, keyCodes.toDF(cols2 :+ "__graft_code": _*), codeCol))
  }

  /** Distinct keys (canonical column names) + dense `__graft_code`. */
  private def codes(frames: Seq[DataFrame], cols: Seq[String], sort: Boolean): DataFrame = {
    val (keyed, order) = distinctKeys(frames, cols, sort)
    number(keyed, order)
  }

  /** The distinct keys of all `frames`, and the order that numbers them. */
  private def distinctKeys(frames: Seq[DataFrame], cols: Seq[String],
      sort: Boolean): (DataFrame, Seq[Column]) =
    if (sort) {
      (frames.map(_.select(cols.map(col): _*)).reduce(_ unionByName _).distinct(),
        cols.map(c => col(c).asc_nulls_last))
    } else {
      // first appearance across the concatenation of all frames, in
      // order. Ordered by the PAIR (frame index, monotonic id) — packing
      // both into one long would collide once the partition id reaches
      // bit 40 (monotonically_increasing_id uses partitionId << 33), so
      // a struct keeps frame-major order at any partition count
      (frames.map(_.select(cols.map(col): _*))
        .zipWithIndex
        .map { case (f, i) =>
          f.withColumn("__graft_ord",
            struct(lit(i).as("f"), monotonically_increasing_id().as("m")))
        }
        .reduce(_ unionByName _)
        .groupBy(cols.map(col): _*)
        .agg(min(col("__graft_ord")).as("__graft_ord")),
        Seq(col("__graft_ord")))
    }

  /** Dense 0-based codes: a running count of the keys in `order`. */
  private def number(keyed: DataFrame, order: Seq[Column]): DataFrame =
    RunningScan.prefixSum(keyed, order, lit(1L), "__graft_code")
      .withColumn("__graft_code", col("__graft_code") - 1)
      .drop("__graft_ord")

  private def attach(
      df: DataFrame, cols: Seq[String], keyCodes: DataFrame, codeCol: String): DataFrame = {
    val prefixed = keyCodes.columns.foldLeft(keyCodes)((d, c) =>
      if (c == "__graft_code") d else d.withColumnRenamed(c, "__graft_k_" + c))
    val cond = cols.zip(keyCodes.columns.filter(_ != "__graft_code"))
      .map { case (c, k) => col(c) <=> col("__graft_k_" + k) }
      .reduce(_ && _)
    // no explicit broadcast: the code table is key-cardinality-sized —
    // usually tiny (AQE broadcasts it at runtime), but a forced broadcast
    // would OOM on high-cardinality keys
    df.join(prefixed, cond, "left")
      .drop(prefixed.columns.filter(_ != "__graft_code"): _*)
      .withColumnRenamed("__graft_code", codeCol)
  }
}
