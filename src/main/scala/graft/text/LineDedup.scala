package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin

/** Corpus-level line deduplication (the C4 / RefinedWeb cleaning step):
  * drop every line whose exact text occurs in at least `minDocs`
  * DISTINCT documents, then reassemble each document from its surviving
  * lines in original order. Boilerplate (headers, footers, cookie
  * banners) repeats across pages; prose does not.
  *
  * Not in the reference (it has no text ops at all) — this extends the
  * engine toward training-data curation, like [[Contamination]] and the
  * dedup family.
  *
  * Scale posture: one (line → doc-frequency) aggregation with map-side
  * combine; with a high `minDocs` the frequent-line set is the head of a
  * Zipfian distribution — tiny; at the default `minDocs = 2` it is
  * every line occurring twice — unbounded at corpus scale, where a
  * forced broadcast would OOM the driver. So the broadcast decision is
  * MEASURED, not hinted: the frequent set is checkpointed (it must be
  * computed either way), and its real row count and byte size are
  * observed by that same [[Pin]] job and set on the leaf — the planner
  * then picks broadcast vs shuffle for the anti-join from honest
  * statistics under the session's own
  * `autoBroadcastJoinThreshold`. (AQE alone does NOT recover the
  * broadcast here: it converts only after both shuffle map stages ran,
  * so the probe side — every line in the corpus — pays its shuffle
  * write first; pinned leaf stats move the decision before any
  * exchange is planned.) Reassembly is one `groupBy(id)` with
  * `collect_list` bounded by per-document line counts — no global sort,
  * no driver collection. At most three shuffles total at any corpus
  * size, all on keys with bounded skew (a line that occurs everywhere
  * still reduces through partial aggregation first).
  */
object LineDedup {

  /** One row per input document: `idCol`, `textCol` rewritten to the
    * surviving lines joined by `delimiter`, `n_lines` (original),
    * `n_removed` (lines dropped). Documents whose every line is frequent
    * survive with empty text; empty documents pass through unchanged.
    *
    * A line shorter than `minLineChars` is never counted or removed
    * (C4 applies its rule to lines with ≥ 3 sentences; the cutoff here
    * is characters, the cheap proxy).
    *
    * All occurrences of a frequent line are dropped, including repeats
    * inside a single document; frequency itself counts distinct
    * documents, so in-document repetition cannot promote a line.
    */
  def apply(df: DataFrame, idCol: String, textCol: String,
            delimiter: String = "\n", minDocs: Int = 2,
            minLineChars: Int = 1): DataFrame = {
    require(minDocs >= 2, "minDocs must be at least 2")
    require(minLineChars >= 0, "minLineChars must be non-negative")

    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), delimiter, -1))
        .as(Seq("__graft_pos", "__graft_line")))

    val eligible = length(col("__graft_line")) >= minLineChars

    // frequent-line set: no broadcast hint — its size is data-dependent
    // (unbounded at minDocs=2). Pin it once (it is needed either way);
    // the pin's job also measures its row count and characters, so the
    // planner decides broadcast vs shuffle from real statistics rather
    // than a guess or a forced hint.
    val freq = Pin(lines
      .filter(eligible)
      .groupBy("__graft_line")
      .agg(count_distinct(col(idCol)).as("__graft_df"))
      .filter(col("__graft_df") >= minDocs)
      .select("__graft_line"),
      metrics = Seq(coalesce(sum(length(col("__graft_line"))), lit(0L))
        .cast("long").as("chars")))
    // +32 B/row: UTF8String + unsafe-row overhead on top of raw chars
    val frequent = freq.sized(
      if (freq.rows == 0) 1L
      else freq.metrics("chars").asInstanceOf[Long] / freq.rows + 32L)

    val kept = lines
      .filter(eligible)
      .join(frequent, Seq("__graft_line"), "left_anti")
      .unionByName(lines.filter(!eligible))

    val reassembled = kept
      .groupBy(idCol)
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("__graft_pos"), col("__graft_line")))),
            e => e("__graft_line")),
          delimiter).as("__graft_text"),
        count(lit(1)).as("__graft_nkept"))

    // left join: docs that lost every line reassemble to empty text
    df.withColumn("n_lines",
        when(length(col(textCol)) > 0, size(split(col(textCol), delimiter, -1)))
          .otherwise(lit(0)).cast("long"))
      .join(reassembled, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("n_lines") === 0, col(textCol))
          .otherwise(coalesce(col("__graft_text"), lit(""))))
      .withColumn("n_removed",
        when(col("n_lines") === 0, lit(0L))
          .otherwise(col("n_lines") - coalesce(col("__graft_nkept"), lit(0L))))
      .drop("__graft_text", "__graft_nkept")
  }
}
