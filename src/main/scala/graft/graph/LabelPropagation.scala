package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin

/** Synchronous label propagation (LPA, Raghavan et al. 2007) with the
  * same determinism contract as [[PageRank]] and
  * [[graft.similarity.KMeans]]: fixed iterations, integer labels, ties
  * to the SMALLEST label — the result is bit-identical under any
  * partitioning and reproducible in any engine with 64-bit integers
  * (the oracle unrolls the same rounds in SQL, zero tolerance).
  *
  * Community structure complements the other two graph ops in curation:
  * [[graft.dedup.ConnectedComponents]] gives hard duplicate clusters,
  * [[PageRank]] gives authority, LPA gives soft topical/host
  * communities (domain families, template ecosystems) used for
  * stratified mixing and leakage-free splits.
  *
  * Each round every node adopts the most frequent label among its
  * IN-neighbors (ties → smallest label, [[graft.agg.GroupedMode]]'s
  * deterministic tie rule); nodes with no in-edges keep their label.
  * Classic async LPA is order-dependent — the synchronous variant is
  * the one with a well-defined distributed semantics, at the known cost
  * of possible 2-cycles on bipartite-ish structures; fixed `iters`
  * bounds that.
  *
  * Scale: the edge list is pinned once ([[Pin]]); each
  * round is one equi-join (labels → edges) + TWO pure hash
  * aggregations (count, then lexicographic max over (count, −label) —
  * both map-side combined, so a Zipf-degree hub partial-aggregates
  * before the shuffle and nothing sorts) + a left join back to the
  * node frame; per-round state is 2 longs per node, freed via
  * [[Pin.free]] (localCheckpoint unpersist is a cache-manager no-op),
  * as is the edge pin before returning.
  */
object LabelPropagation {

  /** @param nodes single-column node ids, or (node, label) to seed
    * @param iters synchronous rounds (fixed — determinism over
    *              convergence detection, whose round count would itself
    *              be the deterministic-but-surprising output)
    * @return (node, label) after `iters` rounds
    */
  def apply(
      nodes: DataFrame,
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      iters: Int = 5): DataFrame = {
    require(iters >= 0, "iters >= 0")
    require(nodes.columns.length == 1 || nodes.columns.length == 2,
      s"nodes must be (node) or (node, label); got " +
        s"(${nodes.columns.mkString(", ")})")

    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val edgeCk = Pin(e, rowBytes = 16L).df

    val seeded = nodes.columns.length match {
      case 1 => nodes.select(col(nodes.columns.head).cast("long").as("node"))
        .where(col("node").isNotNull).distinct()
        .select(col("node"), col("node").as("label"))
      case _ => nodes.select(col(nodes.columns(0)).cast("long").as("node"),
        col(nodes.columns(1)).cast("long").as("label"))
        .where(col("node").isNotNull)
    }
    var labels = Pin(seeded, rowBytes = 16L).df

    for (_ <- 1 to iters) {
      // in-neighbor label stream → majority with ties to the SMALLEST
      // label ([[GroupedMode]]'s rule), but as two pure hash
      // aggregations instead of its count+rank-window plan: the argmax
      // is a lexicographic max over (count, -label) — no sort, no
      // window, both stages partial-aggregate map-side (the negation is
      // safe: labels are node ids / seeds, never Long.MinValue)
      val msgs = labels.join(edgeCk, labels("node") === edgeCk("src"))
        .select(col("dst"), col("label"))
      val winner = msgs
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("__c"))
        .groupBy(col("dst"))
        .agg(max(struct(col("__c").as("c"), (-col("label")).as("nl")))
          .as("__w"))
        .select(col("dst"), (-col("__w").getField("nl")).as("__new"))
      val next = labels
        .join(winner, labels("node") === winner("dst"), "left")
        .select(col("node"),
          coalesce(col("__new"), col("label")).as("label"))
      val old = labels
      labels = Pin(next, rowBytes = 16L).df
      Pin.free(old)
    }
    Pin.free(edgeCk)
    labels
  }
}
