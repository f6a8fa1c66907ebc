package graft.text

import org.apache.spark.sql.graft.RunningScan
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training data: documents ordered by a
  * deterministic key are laid end-to-end in token space, and the
  * concatenated stream is cut into fixed `budget`-token packs (the
  * GPT-style "concatenate then chunk" layout — documents may straddle a
  * pack boundary, in which case they appear in both packs with the
  * doc-relative token range each pack takes).
  *
  * Plan shape: the global token offsets come from [[RunningScan.prefixSum]] (two
  * parallel phases — NO all-rows single-partition window), and each doc
  * explodes to the packs its token interval touches — the same
  * bin-explosion pattern as the binned interval join, with the pack id
  * as the bin. Everything downstream of the prefix sum is an
  * embarrassingly parallel projection.
  */
object Packing {

  /** @param orderCols unique-per-row ordering (e.g. the doc id) — pack
    *                  layout is deterministic in it
    * @param nTokens   per-row token count column (rows with <= 0 are
    *                  dropped: they occupy no tokens)
    * @param budget    tokens per pack (> 0)
    * @return input columns + `pack_id` (0-based), `off_start`/`off_end`
    *         (doc-relative token range [start, end) in that pack) and
    *         `pack_off` (where the range lands inside the pack) — one
    *         row per (doc × pack) overlap
    */
  def chunk(
      df: DataFrame,
      orderCols: Seq[Column],
      nTokens: Column,
      budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val withEnd = RunningScan.prefixSum(
      df.withColumn("__graft_n", nTokens.cast("long"))
        .filter(col("__graft_n") > 0),
      orderCols, col("__graft_n"), "__graft_end")
    val start = col("__graft_end") - col("__graft_n")
    withEnd
      .withColumn("__graft_start", start)
      .withColumn("__graft_last", col("__graft_end") - 1)
      // integer `div`, not floor(x / b): double division is only exact up
      // to 2^53 total tokens, and a 100 TB token stream is within sight
      // of that
      .withColumn("pack_id", explode(sequence(
        expr(s"__graft_start div $budget"),
        expr(s"__graft_last div $budget"))))
      .withColumn("off_start",
        greatest(col("__graft_start"), col("pack_id") * budget) - col("__graft_start"))
      .withColumn("off_end",
        least(col("__graft_end"), (col("pack_id") + 1) * budget) - col("__graft_start"))
      .withColumn("pack_off",
        greatest(col("__graft_start"), col("pack_id") * budget) -
          col("pack_id") * budget)
      .drop("__graft_n", "__graft_start", "__graft_end", "__graft_last")
  }
}
