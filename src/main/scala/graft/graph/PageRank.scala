package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin

/** Link-graph authority scoring (PageRank) for web-corpus curation:
  * after [[graft.text.UrlOps]] reduces a crawl to a host/domain graph,
  * domain authority is the classic page-level quality prior — CCNet and
  * successor pipelines bucket documents by exactly this kind of signal
  * before sampling. The reference is a single-machine pandas library
  * with no graph surface; this fills the gap Spark-first.
  *
  * '''Fixed-point integer arithmetic, deliberately.''' Ranks are scaled
  * longs (`scale` = 1e12 by default), every contribution is an integer
  * division, and every per-node combine is an integer sum — so the
  * result is BIT-IDENTICAL regardless of partitioning, join order, or
  * engine (floating-point PageRank differs run-to-run on a cluster
  * because summation order is nondeterministic; for reproducible
  * curation decisions — "did this domain clear the authority bar?" —
  * determinism is worth the ~1e-12 relative quantization error, which
  * is far below the algorithm's own convergence tolerance). The same
  * arithmetic reproduces in ANSI SQL (`//`), which is how the driver's
  * DuckDB oracle checks it exactly.
  *
  * Semantics per iteration (damping d = `dampingPct`/100):
  * {{{
  *   base    = scale DIV n
  *   tele    = (100 - dampingPct) * base DIV 100
  *   dshare  = dampingPct * danglingMass DIV (100 * n)
  *   rank'(v)= tele + dshare + Σ_{(u,v)∈E} dampingPct * rank(u) DIV (100 * outdeg(u))
  * }}}
  * Dangling mass (nodes with no out-edges) is redistributed uniformly —
  * the standard correction; without it rank mass drains every round.
  * Edges form a multigraph: duplicate (u,v) rows count twice in both
  * `outdeg(u)` and v's inflow; self-loops are legal and contribute to
  * their own node. Null endpoints are dropped.
  *
  * Scale posture: each of the fixed `iterations` rounds is one
  * equi-join of the rank frame (2 longs/node) against the
  * degree-annotated edge list plus a map-side-combinable grouped sum —
  * no windows, AQE-splittable on skewed hubs. The edge list is
  * pinned once with measured stats; the rank frame is pinned per round
  * ([[Pin]]) so lineage stays flat, and the pins the result does not
  * read are freed before returning. The dangling-mass scalar is a 1-row
  * aggregate broadcast back — the same bounded-driver-work class as the
  * IVF centroid probe. Node count `n` is the universe pin's row count.
  */
object PageRank {

  /** `(node: long, rank: long)` — rank in `scale`-fixed-point, one row
    * per node of the universe (`nodes` when given, else every distinct
    * edge endpoint).
    *
    * @param tolerance when > 0, stop once the L1 rank change of a round
    *                  (Σ|rank' − rank|, an exact integer in fixed-point)
    *                  drops to ≤ tolerance — fixed-point corpora (e.g. a
    *                  regular graph, whose ranks are stationary from
    *                  round 1) skip the remaining rounds. Deterministic:
    *                  the delta is an integer sum, identical under any
    *                  partitioning, so every run stops at the same round
    *                  with bit-identical ranks. Observed on each
    *                  round's pin (no extra job; the rank frame carries
    *                  the previous rank, 8 bytes a node); 0 (default)
    *                  disables it and always runs exactly `iterations`
    *                  rounds.
    */
  def apply(edges: DataFrame, srcCol: String, dstCol: String,
            iterations: Int = 10,
            dampingPct: Int = 85,
            scale: Long = 1000000000000L,
            nodes: Option[DataFrame] = None,
            tolerance: Long = 0L): DataFrame =
    run(edges, srcCol, dstCol, iterations, dampingPct, scale, nodes,
      tolerance)._1

  /** Like `apply`, additionally returning the number of rounds actually
    * executed (< `iterations` only when `tolerance` stopped early).
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
            iterations: Int = 10,
            dampingPct: Int = 85,
            scale: Long = 1000000000000L,
            nodes: Option[DataFrame] = None,
            tolerance: Long = 0L): (DataFrame, Int) = {
    require(iterations >= 1, "iterations must be at least 1")
    require(dampingPct >= 0 && dampingPct <= 100,
      "dampingPct must be in [0, 100]")
    require(scale >= 1000000L,
      "scale under 1e6 quantizes ranks to noise")
    // per-node rank is bounded by the total mass ≈ scale, and the widest
    // product in the iteration is `dampingPct * rank` ≤ 100 * scale — so
    // scale needs 100× headroom under Long.MaxValue or the multiply
    // overflows (throwing under ANSI mode, silently wrapping otherwise)
    require(scale <= Long.MaxValue / 128L,
      "scale above Long.MaxValue/128 overflows the dampingPct*rank product")
    require(tolerance >= 0L, "tolerance must be non-negative")

    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)

    val universe = nodes match {
      case Some(nd) =>
        require(nd.columns.length == 1,
          s"nodes must be a single-column frame of node ids; got " +
            s"(${nd.columns.mkString(", ")})")
        nd.select(nd.columns.head).toDF("node")
          .select(col("node").cast("long").as("node"))
          .where(col("node").isNotNull).distinct()
      case None =>
        e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
    }

    // n drives the teleport constant (a scalar, so a driver value — not
    // a per-row collect); it is the universe pin's own row count
    val uni = Pin(universe, rowBytes = 8L)
    val (nodeDf, n) = (uni.df, uni.rows)
    require(n > 0, "PageRank needs at least one node")

    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // degree-annotated edges: built once (the possibly-expensive edge
    // pipeline runs inside this one pin), reused every round
    val edgeCk = Pin(e.join(deg, "src"), rowBytes = 24L).df
    // dangling flag folded into the node universe (and carried by every
    // rank frame below): the per-round dangling-mass aggregate is then a
    // filter + sum over the frame already in hand — one join per round
    // cheaper than keeping a separate danglers frame to join against
    val base = scale / n
    val tele = (100L - dampingPct) * base / 100L

    // the dangling flag and the uniform initial rank land in ONE pinned
    // frame — a separate node-flag checkpoint followed by the rank-0
    // checkpoint paid two back-to-back materialization jobs for the
    // same rows
    var pr = Pin(nodeDf.join(edgeCk.select(col("src")).distinct(),
        nodeDf("node") === col("src"), "left_outer")
      .select(col("node"), col("src").isNull.as("__dangling"),
        lit(base).as("rank")), rowBytes = 17L).df
    // with a tolerance each round's frame also carries the rank it
    // replaced, so the exact integer L1 delta is an aggregate observed
    // on the round's own pin — bit-identical under any partitioning, so
    // the stopping round is deterministic
    val carry = if (tolerance > 0L) Seq(col("rank").as("__r0")) else Nil
    val delta = coalesce(sum(abs(col("rank") - col("__r0"))), lit(0L)).as("delta")
    var iter = 0
    var stopped = false
    while (iter < iterations && !stopped) {
      val contrib = pr.join(edgeCk, pr("node") === edgeCk("src"))
        .select(col("dst"),
          expr(s"$dampingPct * rank DIV (100 * outdeg)").as("__c"))
        .groupBy("dst")
        .agg(sum(col("__c")).as("__contrib"))
      // dangling mass: 1-row aggregate over the flag already in the rank
      // frame, broadcast back to every node
      val dmass = pr.filter(col("__dangling"))
        .agg(coalesce(sum(col("rank")), lit(0L)).as("__dm"))
      val next = pr
        .join(contrib, pr("node") === contrib("dst"), "left")
        .crossJoin(broadcast(dmass))
        .select(Seq(col("node"), col("__dangling"),
          (lit(tele) +
            expr(s"$dampingPct * __dm DIV (100 * ${n}L)") +
            coalesce(col("__contrib"), lit(0L))).as("rank")) ++ carry: _*)
      val old = pr
      val p = Pin(next, rowBytes = 17L + 8L * carry.size,
        metrics = if (carry.isEmpty) Nil else Seq(delta))
      pr = p.df
      if (carry.nonEmpty && p.metrics("delta").asInstanceOf[Long] <= tolerance)
        stopped = true
      Pin.free(old)
      iter += 1
    }
    Pin.free(nodeDf)
    Pin.free(edgeCk)
    (pr.select(col("node"), col("rank")), iter)
  }
}
