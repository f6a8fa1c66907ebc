package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin

/** Connected components over a near-duplicate pair graph, and cluster
  * assignment for a document corpus.
  *
  * The pair generators ([[MinHashDedup]], [[SimHashDedup]],
  * [[NgramJaccardDedup]], [[graft.similarity.EmbeddingDedup]]) emit edges;
  * actually deduplicating a corpus additionally needs the transitive
  * closure — a chain a~b~c must collapse to ONE cluster even when (a,c)
  * itself is below the similarity threshold. The reference is a
  * single-machine pandas library and has no analogue; at cluster scale the
  * closure is the classic iterative min-label algorithm with pointer
  * jumping (cf. Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14): O(log d) rounds for diameter d, each round a pair of
  * shuffle-partitioned equi-joins plus a grouped min.
  *
  * Scale posture: the per-round state is one (node, comp) frame of two
  * longs per node — tiny next to the corpus — and is localCheckpoint'ed
  * every round to truncate lineage (an iterative plan would otherwise grow
  * without bound and recompute every prior round). Convergence detection
  * is a scalar (count, hash-sum) witness observed DURING each round's
  * checkpoint job — one job per round, no collect of data.
  */
object ConnectedComponents {

  /** Edge count at or below which the contracted graph is finished on
    * the driver with union-find instead of more distributed rounds. The
    * star rounds shrink the edge set geometrically, so the tail rounds
    * shuffle kilobytes while still paying full fixed stage cost (plan +
    * janino + scheduling — the dominant per-round cost on small
    * remainders). The collect is BOUNDED AND MEASURED, not hopeful: the
    * convergence witness already carries the exact edge count of every
    * round for free, and the collect only happens when that count is ≤
    * this cutoff (2^20 edges = 16 MB of longs — the same bounded-driver-
    * work class as the IVF centroid probe). Set 0 to force every round
    * distributed (the differential specs do, so the star path stays
    * exercised).
    */
  val DefaultLocalFinishEdges: Long = 1L << 20

  /** `(node: long, comp: long)` for every node appearing in `edges`;
    * `comp` is the least node id in the node's component. Self-loops and
    * null endpoints are ignored. Nodes not mentioned in `edges` do not
    * appear (callers complete singletons themselves, cf.
    * [[DuplicateClusters]]).
    */
  def apply(edges: DataFrame, srcCol: String, dstCol: String,
            maxIter: Int = 30,
            localFinishEdges: Long = DefaultLocalFinishEdges): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    // Alternating LARGE-STAR / SMALL-STAR contraction (Kiveris et al.,
    // SoCC'14 — the algorithm GraphFrames ships as its default CC).
    // Plain min-label propagation over a FIXED edge list needs
    // O(diameter) rounds no matter how many pointer jumps accelerate the
    // label chains — measured on the sf0.1 embedding-cluster graph
    // (near-threshold cosine chains, scattered ids): 16 rounds with 1, 2
    // or 4 jumps alike, because the min must physically flood the
    // original edges one hop per round. Naive "relabel edges by the
    // grouped min" contraction is no better on chains (a path only loses
    // its ends each round). The alternating star operations restructure
    // the edge set itself:
    //   large-star(u): connect every neighbor v > u to m(u) = min(N(u)∪u)
    //   small-star(u): connect every neighbor v < u (and u) to the least
    //                  of them
    // which provably converges in O(log n) rounds on EVERY graph, with
    // the fixpoint being one star per component rooted at the component
    // minimum — same embedding graph: 16 → 3 rounds, 200-node path: 7.
    // At 100 TB the round shape is what matters: both phases are
    // map-side-combinable grouped mins plus an equi-join back — no
    // windows, AQE-splittable — and the edge set collapses toward one
    // edge per non-root node almost immediately, so later rounds join
    // star sets, not the corpus-sized pair list.
    //
    // Canonical storage: (lo, hi) with lo < hi, one row per undirected
    // edge (half the rows of the mirrored form the propagate loop
    // needed), 24 bytes a row on each round's [[Pin]] — checkpoint
    // leaves otherwise inherit the pre-checkpoint plan's size estimate,
    // which an iterative self-referencing loop compounds exponentially
    // (measured: q_dedup_embcluster seconds → >7 min at sf0.1).
    // Convergence witness: the star fixpoint leaves the edge SET
    // unchanged; (count, order-free hash sum) detects that exactly, and
    // both ride the pin's checkpoint job — one job per round. The
    // expensive pair-generation pipeline feeding `edges` is evaluated
    // exactly once, inside the first pin.
    def witnessed(df: DataFrame): (DataFrame, Long, java.math.BigDecimal) = {
      val p = Pin(df, rowBytes = 24L, metrics = Seq(
        sum(xxhash64(col("lo"), col("hi")).cast("decimal(38,0)")).as("h")))
      (p.df, p.rows, Option(p.metrics("h").asInstanceOf[java.math.BigDecimal])
        .getOrElse(java.math.BigDecimal.ZERO))
    }
    val (canon0, n0, h0) = witnessed(
      e.select(least(col("u"), col("v")).as("lo"),
        greatest(col("u"), col("v")).as("hi")).distinct())
    var canon = canon0
    var nEdges = n0
    // seeding prev with the REAL initial witness lets an
    // already-converged input (a star graph) finish after one round
    var prev = (n0, h0)
    var iter = 0
    var converged = nEdges == 0
    while (!converged && iter < maxIter && nEdges > localFinishEdges) {
      // LARGE-STAR over the mirrored view: m(u) = min(N(u) ∪ u); emit
      // (m(u), v) for every neighbor v > u. v > u >= m(u), so the pair
      // is already canonical and never a self-loop. Not materialized:
      // duplicates don't change the small-star grouped min below and the
      // round's final distinct removes them, while both small-star
      // consumers shuffle `ls` by hi — the same exchange, so Catalyst
      // reuses it and the phase costs one extra scan of the pinned
      // canon leaf at most.
      val both = canon.select(col("lo").as("u"), col("hi").as("v"))
        .union(canon.select(col("hi").as("u"), col("lo").as("v")))
      val mFull = both.groupBy(col("u"))
        .agg(min(col("v")).as("__nm"))
        .select(col("u"), least(col("u"), col("__nm")).as("m"))
      val ls = both.join(mFull, "u")
        .where(col("v") > col("u"))
        .select(col("m").as("lo"), col("v").as("hi"))
      // SMALL-STAR on the high endpoint: every hi's smaller neighbors
      // (and hi itself) connect to the least of them. Canonical output:
      // the target m is the group min, so m <= lo < hi on both shapes.
      val mS = ls.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val ss0 = ls.join(mS, "hi")
        .where(col("lo") =!= col("m"))
        .select(col("m").as("lo"), col("lo").as("hi"))
        .union(mS.select(col("m").as("lo"), col("hi")))
        .distinct()
      val old = canon
      val (c2, n2, h2) = witnessed(ss0) // materializes from old
      Pin.free(old)
      canon = c2
      converged = n2 == 0 || (n2 == prev._1 && h2.compareTo(prev._2) == 0)
      prev = (n2, h2)
      nEdges = n2
      iter += 1
    }
    if (!converged && nEdges > 0 && nEdges <= localFinishEdges) {
      // Local finish: the remaining contracted graph is small (count
      // proven by the witness, not estimated), so one bounded collect +
      // union-find replaces the remaining O(log) distributed rounds and
      // their fixed per-round stage cost. Union-by-min keeps every root
      // the component minimum, so `find` IS the comp label.
      val rows = canon.select(col("lo"), col("hi")).collect()
      val parent = new java.util.HashMap[Long, Long](rows.length * 2)
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) { x = p; p = parent.getOrDefault(x, x) }
        // path compression
        var y = x0
        while (y != x) { val n = parent.get(y); parent.put(y, x); y = n }
        x
      }
      rows.foreach { r =>
        val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
        if (a != b) {
          if (a < b) parent.put(b, a) else parent.put(a, b)
        }
      }
      val nodes = new java.util.HashSet[Long](rows.length * 2)
      rows.foreach { r => nodes.add(r.getLong(0)); nodes.add(r.getLong(1)) }
      val out = new Array[(Long, Long)](nodes.size)
      var i = 0
      val it = nodes.iterator()
      while (it.hasNext) { val n = it.next(); out(i) = (n, find(n)); i += 1 }
      val spark = canon.sparkSession
      import spark.implicits._
      System.err.println(
        s"[cc] rounds=$iter converged=local localEdges=$nEdges")
      Pin.free(canon)
      return out.toSeq.toDF("node", "comp")
    }
    // at the star fixpoint every edge is (componentMin, member); roots
    // appear only on the lo side and map to themselves
    val labels = canon.select(col("hi").as("node"), col("lo").as("comp"))
      .union(canon.select(col("lo").as("node"), col("lo").as("comp")))
      .distinct()
    // scale diagnostics: rounds is the O(log n) witness — it should stay
    // flat as data replicates (components get wider, not deeper)
    System.err.println(s"[cc] rounds=$iter converged=$converged")
    labels
  }
}

/** Cluster assignment: every document gets the id of its near-duplicate
  * cluster (the least reachable doc id through `pairs`), the cluster size,
  * and a canonical flag marking the one survivor per cluster. Documents in
  * no pair form singleton clusters of themselves.
  */
object DuplicateClusters {

  def apply(docs: DataFrame, idCol: String,
            pairs: DataFrame, leftCol: String, rightCol: String,
            maxIter: Int = 30,
            localFinishEdges: Long =
              ConnectedComponents.DefaultLocalFinishEdges): DataFrame = {
    // ids must be integral — EVERYWHERE: the cluster id IS the least id,
    // and a silent cast("long") on strings would null out cluster
    // assignments (docs side) or drop every edge (pairs side, where the
    // nulls feed the isNotNull filter and dedup silently no-ops)
    val integral = Set("byte", "short", "integer", "long")
    def checkId(df: DataFrame, c: String, what: String): Unit = {
      val t = df.schema(c).dataType
      require(integral(t.typeName),
        s"DuplicateClusters needs an integral $what column, got $t for $c")
    }
    checkId(docs, idCol, "id")
    checkId(pairs, leftCol, "pair-endpoint")
    checkId(pairs, rightCol, "pair-endpoint")
    val comp =
      ConnectedComponents(pairs, leftCol, rightCol, maxIter, localFinishEdges)
    val labeled = docs.as("d")
      .join(comp.as("c"), col(s"d.$idCol").cast("long") === col("c.node"), "left")
      .withColumn("cluster_id",
        coalesce(col("c.comp"), col(s"d.$idCol").cast("long")))
      .drop("node", "comp")
    // sizes via groupBy + join, not a count-over-cluster window: a
    // mega-cluster (one boilerplate doc duplicated everywhere) would pin
    // its whole window partition on one task, while the aggregate
    // reduces map-side and AQE can skew-split the join
    val sizes = labeled.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster_id")
      .withColumn("is_canonical",
        (col(idCol).cast("long") === col("cluster_id")).cast("int"))
      .select((docs.columns.toSeq :+ "cluster_id" :+ "cluster_size"
        :+ "is_canonical").map(col): _*)
  }

  /** Re-elects each cluster's canonical row by PREFERENCE rather than
    * least-id: curation pipelines keep the best duplicate (longest text,
    * highest quality score), not the numerically smallest id. `prefer`
    * columns rank descending-first-wins; ties fall back to ascending id
    * so the choice stays deterministic. One rank window over the
    * existing cluster partitioning — no new shuffle when the frame is
    * already cluster-keyed.
    */
  def canonicalBy(clustered: DataFrame, idCol: String,
                  prefer: Seq[Column],
                  clusterCol: String = "cluster_id"): DataFrame = {
    require(prefer.nonEmpty, "pass at least one preference column")
    val w = Window.partitionBy(col(clusterCol))
      .orderBy(prefer.map(_.desc) :+ col(idCol).asc: _*)
    clustered.withColumn("is_canonical",
      (row_number().over(w) === 1).cast("int"))
  }
}
