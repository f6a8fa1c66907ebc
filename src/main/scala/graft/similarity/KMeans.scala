package graft.similarity

import org.apache.spark.sql.graft.Pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic distributed Lloyd k-means over embedding columns, in
  * integer fixed-point — the trainable counterpart of [[IvfAnn.fit]]'s
  * seed quantizer and the clustering step of curation recipes (cluster
  *-balanced sampling, SemDedup cell construction, data-mixture
  * analysis).
  *
  * Why fixed-point: float Lloyd is not reproducible across engines or
  * even across partitionings — centroid means depend on summation
  * order. Here every vector component is quantized ONCE to
  * `floor(x * scale)` (exact in double for power-of-two scales),
  * distances are exact integer sums of squares, and centroid updates
  * are integer truncating division — so the final assignment is
  * BIT-IDENTICAL under any partitioning and in any engine that can do
  * 64-bit integer math (the DuckDB oracle unrolls the same iterations
  * with zero float tolerance, the same determinism contract as
  * [[graft.graph.PageRank]]).
  *
  * Algorithm (k, iters fixed):
  *   - seed centroids = the quantized vectors of the `k` smallest ids
  *     (reproducible everywhere, no RNG — swap for k-means|| when
  *     reproducibility is not required);
  *   - each iteration: map-side argmin assignment against the k
  *     centroid LITERALS (ties → smallest cluster id), then per-cluster
  *     per-dimension integer sums via one partially-aggregated
  *     `groupBy(cluster, pos)` — shuffle traffic is
  *     O(partitions · k · dim), never O(n · dim);
  *   - clusters that lose all points keep their previous centroid;
  *   - new centroid component = `sum / count` (Long division,
  *     truncation toward zero — matching DuckDB's `//`).
  *
  * Scale posture (100 TB): the quantized points are checkpointed ONCE
  * with pinned honest stats (the PageRank edge-list pattern) so the
  * source is not re-scanned per iteration; centroids are a k×dim Long
  * array on the driver (a few KB), shipped inside codegen'd
  * `zip_with`/`aggregate` expressions — assignment is embarrassingly
  * parallel, and the ONLY driver collect is the k·dim-row sum table per
  * iteration (bounded by k·dim, corpus-size-independent).
  *
  * Overflow headroom: |component| ≤ scale requires inputs in [-1, 1]
  * (L2-normalized embeddings); squared diff ≤ (2·scale)², and dim
  * terms sum — `require` bounds dim · (2·scale)² ≤ Long.MaxValue / 4.
  */
object KMeans {

  /** Trained model: `centroids(j)(d)` in fixed-point units of
    * `1/scale`; `assign` is the map-side cluster expression.
    */
  case class Model(centroids: IndexedSeq[IndexedSeq[Long]], scale: Long) {
    val k: Int = centroids.length

    /** Quantized copy of vector column `v`: floor(x · scale) as
      * array<long>. */
    def quantize(v: Column): Column =
      transform(v, x => floor(x.cast("double") * scale).cast("long"))

    /** struct(dist, cluster) of the winning centroid for QUANTIZED
      * vector `q` — argmin with ties to the smallest cluster id.
      * Native [[org.apache.spark.sql.graft.VecNearestSqLong]]: the
      * earlier composed form (`array_min` over k inline
      * `aggregate(zip_with(...))` structs) ran k interpreted HOF chains
      * per row and broke whole-stage codegen around the assignment
      * scan — the round-9 generated-code-size rule (SCALING.md). */
    def best(q: Column): Column =
      org.apache.spark.sql.graft.VecFunctions.vec_nearest_sq(q, centroids)

    /** Cluster id (int) of RAW vector column `v`. */
    def assign(v: Column): Column = best(quantize(v)).getField("cluster")
  }

  /** Pin the quantized vectors `q` of `pts0` ([[Pin]]) for Lloyd
    * training; the same job measures the row count and min/max
    * dimension. Ragged vectors would make the zip_with distance pad with
    * nulls and array_min's nulls-first struct order silently assign
    * those rows to an arbitrary cluster — they are rejected loudly
    * instead, as are fewer than `need` rows (which also guards the
    * seed step's bounded collect). Returns the pin, re-stated at
    * 8 + 12·dim bytes a row, and dim.
    */
  private[similarity] def pinVectors(pts0: DataFrame, q: String, need: Int,
      raggedNote: String): (DataFrame, Int) = {
    val p = Pin(pts0, metrics = Seq(min(size(col(q))).as("mnd"),
      max(size(col(q))).as("mxd")))
    require(p.rows >= need, s"need >= $need non-null vectors, got ${p.rows}")
    val (dim, mxd) = (p.metrics("mnd").asInstanceOf[Int],
      p.metrics("mxd").asInstanceOf[Int])
    require(dim == mxd,
      s"ragged vector dimensions: min $dim, max $mxd$raggedNote")
    (p.sized(8L + 12L * dim), dim)
  }

  /** Run `iters` full Lloyd iterations and return the model plus the
    * final assignment frame `(idCol, cluster, dist)` under the trained
    * centroids. Null vectors are dropped.
    */
  def fit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      scale: Long = 1L << 20): (Model, DataFrame) = {
    require(k > 0 && iters >= 0, "k > 0, iters >= 0")
    require(scale > 0 && java.lang.Long.bitCount(scale) == 1,
      "scale must be a power of two (exact double multiplication)")
    // 2^28 keeps 4·scale² itself inside Long so the dim guard below is
    // computed without overflowing (and leaves ≥ 2^5 dims of headroom)
    require(scale <= (1L << 28), s"scale=$scale leaves no distance headroom")

    val seed = Model(IndexedSeq.empty, scale) // for quantize only
    val pts0 = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__kmid"),
        seed.quantize(col(vecCol)).as("__kmq"))
    // one pin reused by every iteration + the final assignment
    val (pts, dim) = pinVectors(pts0, "__kmq", k,
      " — k-means requires a fixed embedding dimension")
    require(dim >= 1, "vectors must be non-empty")
    require(dim.toLong * 4L * scale * scale > 0 &&
        dim.toLong <= Long.MaxValue / (4L * scale * scale),
      s"dim=$dim at scale=$scale can overflow 64-bit distances")

    // deterministic seeds: the k smallest ids' quantized vectors.
    // BOUNDED collect: limit(k) caps it at k·dim longs (the distributed
    // TakeOrdered does the ordering; only the k winners reach the driver)
    var centroids: IndexedSeq[IndexedSeq[Long]] = pts
      .orderBy(col("__kmid")).limit(k)
      .select(col("__kmq")).collect()
      .map(_.getSeq[Long](0).toIndexedSeq).toIndexedSeq
    require(centroids.length == k, s"need >= $k non-null vectors")

    for (_ <- 1 to iters) {
      val m = Model(centroids, scale)
      // bounded collect: exactly k·dim rows whatever the corpus size
      val sums = pts
        .select(m.best(col("__kmq")).getField("cluster").as("__c"),
          posexplode(col("__kmq")))
        .groupBy(col("__c"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)),
          (r.getLong(r.fieldIndex("s")), r.getLong(r.fieldIndex("n")))))
        .toMap
      centroids = centroids.zipWithIndex.map { case (old, j) =>
        (0 until dim).map { d =>
          sums.get((j, d)) match {
            case Some((s, n)) => s / n // truncation — DuckDB `//`
            case None         => old(d) // empty cluster keeps its centroid
          }
        }
      }
    }

    val model = Model(centroids, scale)
    val assigned = pts
      .withColumn("__best", model.best(col("__kmq")))
      .select(col("__kmid").as(idCol),
        col("__best").getField("cluster").cast("int").as("cluster"),
        col("__best").getField("dist").as("dist"))
    (model, assigned)
  }
}
