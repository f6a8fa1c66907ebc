package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector expressions over `array<double>` embedding columns, backed by
  * the native codegen'd Catalyst expressions in
  * [[graft.functions.VecDot]] / [[graft.functions.VecNorm]] (the built-in
  * `aggregate(zip_with(...))` route is interpreted per element and breaks
  * whole-stage codegen — 5-10× slower in the brute-force scoring loops).
  */
object VectorOps {

  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VecFunctions.vec_dot(a, b)

  def norm(a: Column): Column =
    org.apache.spark.sql.graft.VecFunctions.vec_norm(a)

  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n === 0, lit(0.0)).otherwise(d / n)
  }

  /** L2-normalization — the standard pre-ANN step (unit vectors turn
    * cosine into a plain dot product, which [[CosineTopK]]/[[IvfAnn]]
    * then exploit). Zero vectors normalize to null (no direction), null
    * vectors pass through. Pure per-row projection: no shuffle, streams
    * unchanged; the norm comes from the codegen'd [[norm]], the divide
    * is one interpreted-HOF pass over an already-computed scalar.
    */
  def l2normalize(vec: Column): Column = {
    val n = norm(vec)
    when(vec.isNull || n === 0, lit(null))
      .otherwise(transform(vec, x => x / n))
  }

  /** Per-group centroid of an array-vector column, LONG form: one row per
    * (group, dim) with the mean component — class prototypes, cluster
    * centers, label-conditional means.
    *
    * Scale posture: `posexplode` + a (group, dim) hash aggregation with
    * map-side combine — vectors never collect per group (a
    * `collect_list`-then-average would concentrate each group's vectors
    * on one task); the shuffle carries only (group, dim, partial sum).
    * Null vectors are dropped; `dim` is 1-based.
    */
  def centroidLong(df: DataFrame, vecCol: String,
                   groupBy: Seq[String]): DataFrame = {
    val exploded = df.filter(col(vecCol).isNotNull)
      .select(groupBy.map(col) :+ posexplode(col(vecCol)): _*)
    exploded.groupBy((groupBy :+ "pos").map(col): _*)
      .agg(avg(col("col").cast("double")).as("mean"))
      .withColumn("dim", col("pos") + 1).drop("pos")
  }

  /** [[centroidLong]] reassembled to one array per group (dims sorted).
    * The per-group array is built from at most `dim` rows — fine for any
    * real embedding width.
    */
  def centroid(df: DataFrame, vecCol: String,
               groupBy: Seq[String]): DataFrame =
    centroidLong(df, vecCol, groupBy)
      .groupBy(groupBy.map(col): _*)
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("mean")))),
        s => s.getField("mean")).as("centroid"))
}

/** Brute-force cosine top-k similarity search: every query vector against
  * every corpus vector. Exact — the correctness baseline; O(|Q|·|C|·d).
  *
  * Scale path: the corpus side streams (one pass per partition), the
  * query side should be small and is broadcast, so there is NO shuffle of
  * the corpus — only the final per-query top-k (a tiny window over
  * |Q|·|C| scored rows reduced map-side by the broadcast join + filter).
  * For corpus×corpus all-pairs use [[LshAnn]] instead.
  */
object CosineTopK {

  /** @param corpus  (idCol, vecCol)
    * @param queries (idCol, vecCol) — small; broadcast
    * @param k       neighbors per query
    * @param excludeSelf drop corpus row with the same id as the query
    * @return (query_id, neighbor_id, cosine, rank) — rank 1..k by
    *         descending cosine, ties by neighbor id ascending
    */
  def apply(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    // norms are per-vector, not per-pair — precompute before the join
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv"),
      VectorOps.norm(col(vecCol)).as("qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      VectorOps.norm(col(vecCol)).as("cn"))
    val denom = col("qn") * col("cn")
    val scored = c.join(q,
        if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        when(denom === 0, lit(0.0))
          .otherwise(VectorOps.dot(col("qv"), col("cv")) / denom).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}

/** Random-hyperplane LSH approximate nearest-neighbor search — the scale
  * path for corpus×corpus or large-query workloads.
  *
  * Each vector gets a `numBits`-bit signature: bit i = sign(v · h_i) where
  * h_i is a pseudo-random hyperplane derived deterministically from
  * (i, dimension index) via a hash → uniform in [−1, 1). Vectors are
  * bucketed by signature (optionally in multiple independent tables);
  * candidates share a bucket in ≥ 1 table, then exact cosine re-ranks.
  *
  * Sizing: E[candidates/bucket] = N / 2^numBits per table; cost scales as
  * numTables · Σ bucket². Collision probability for angle θ:
  * (1 − θ/π)^numBits per table.
  */
object LshAnn {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Dimension of the vector column, probed in ONE job with no shuffle:
    * each partition reports the (min, max) size of its first ≤ 1024
    * non-null rows (fixtures do contain null embeddings; `size(null)`
    * has no dimension to report). Constant work per partition, NOT a
    * full scan: a ragged vector column would silently sign
    * other-dimension rows against the wrong hyperplane set, so the probe
    * asserts min(size) == max(size) over every partition's batch
    * (catches real raggedness immediately — mixed-model corpora are
    * ragged from row one, and a ragged delta unioned onto a clean one
    * shows up in its own partitions), while exhaustive validation past
    * the batches stays the caller's contract (a per-call full scan of a
    * 100 TB corpus to re-prove a schema invariant is the wrong trade).
    * Fails loudly when every row is null: there is no dimension to learn
    * and every downstream signature would be null.
    */
  private def vecDim(df: DataFrame, vecCol: String): Int = {
    val spark = df.sparkSession
    import spark.implicits._
    val ranges = df.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol))).as[Int]
      .mapPartitions { sizes =>
        val batch = sizes.take(DimProbeRows).toArray
        if (batch.isEmpty) Iterator.empty else Iterator((batch.min, batch.max))
      }.collect()
    require(ranges.nonEmpty, noDimension(vecCol))
    val (lo, hi) = (ranges.map(_._1).min, ranges.map(_._2).max)
    require(lo == hi, ragged(vecCol, lo, hi))
    lo
  }

  private val DimProbeRows = 1024

  private def ragged(vecCol: String, lo: Int, hi: Int): String =
    s"ragged vector column '$vecCol': sizes $lo..$hi in the probed " +
      "rows — signatures of mixed-dimension vectors live in " +
      "different hyperplane spaces; normalize the column first"

  private def noDimension(vecCol: String): String =
    s"cannot infer vector dimension: the input has no row with a " +
      s"non-null '$vecCol' (empty input, or every embedding null)"

  /** Deterministic pseudo-random hyperplane component in [-1, 1) for
    * (table, bit, dimension) — computed DRIVER-side and shipped as
    * literal arrays, so executors do plain multiply-adds instead of
    * re-hashing per row. Two prime-modular mixes over small ints: every
    * step is exact integer arithmetic + one IEEE divide/subtract, so any
    * engine (including a SQL differential oracle) reproduces the planes
    * bit-identically — no 64-bit wrap-around semantics to match.
    */
  private[similarity] def hcomp(t: Int, i: Int, d: Int): Double = {
    // mixed in Long: the Int version overflowed once (d+1)*1299709
    // passed Int.MaxValue (dimension ≈ 1650), flipping the Java % sign
    // and breaking the 64-bit BIGINT SQL oracle at real embedding dims
    val m = ((t + 1).toLong * 7919L + (i + 1).toLong * 104729L +
      (d + 1).toLong * 1299709L) % 1000003L
    (m % 2001L) / 1000.0 - 1.0
  }

  /** Signature of vector column `v` (dimension `dim`) for table `t`: bit i
    * = sign(v · h_(t,i)) — single-table form of [[signatures]], kept for
    * callers that bucket one table at a time. Evaluates ONE table's
    * planes (O(numBits·dim) per call) — a caller looping t over
    * numTables pays linear total cost, same as one [[signatures]] pass.
    */
  def signature(v: Column, numBits: Int, t: Int, dim: Int): Column =
    element_at(
      org.apache.spark.sql.graft.VecFunctions.vec_lsh_signatures(v,
        Seq((0 until numBits).map(i =>
          (0 until dim).map(d => hcomp(t, i, d))))),
      1)

  /** ALL tables' signatures in one native pass
    * ([[org.apache.spark.sql.graft.VecLshSignatures]]): the composed
    * per-bit form inlined numTables·numBits dot loops + CASEs into the
    * scan's generated method — the round-9 generated-code-size rule
    * (SCALING.md). Null vectors yield a null array (they can never
    * produce a pair: their cosine is null downstream).
    */
  def signatures(v: Column, numBits: Int, numTables: Int, dim: Int): Column =
    org.apache.spark.sql.graft.VecFunctions.vec_lsh_signatures(v,
      (0 until numTables).map(t => (0 until numBits).map(i =>
        (0 until dim).map(d => hcomp(t, i, d)))))

  /** All-pairs near-neighbor candidates with exact cosine above
    * `threshold`, via `numTables` independent signature tables.
    * @return (id_l, id_r, cosine), id_l < id_r
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numBits: Int = 12,
      numTables: Int = 4,
      threshold: Double = 0.9): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val dim = vecDim(base, "v")
    // all tables' signatures in ONE scan (posexplode), not per-table unions
    val sigs = base
      .select(col("id"), posexplode(signatures(col("v"), numBits, numTables, dim)))
      .withColumnRenamed("pos", "tbl")
      .withColumnRenamed("col", "sig")
    val l = sigs.select(col("tbl"), col("sig"), col("id").as("id_l"))
    val r = sigs.select(col("tbl"), col("sig"), col("id").as("id_r"))
    val pairs = l.join(r, Seq("tbl", "sig"))
      .filter(col("id_l") < col("id_r"))
      .select("id_l", "id_r").distinct()
    val normed = base.withColumn("nrm", VectorOps.norm(col("v")))
    val denom = col("n_l") * col("n_r")
    pairs
      .join(normed.select(col("id").as("id_l"), col("v").as("v_l"),
        col("nrm").as("n_l")), Seq("id_l"))
      .join(normed.select(col("id").as("id_r"), col("v").as("v_r"),
        col("nrm").as("n_r")), Seq("id_r"))
      .withColumn("cosine", when(denom === 0, lit(0.0))
        .otherwise(VectorOps.dot(col("v_l"), col("v_r")) / denom))
      .filter(col("cosine") >= threshold)
      .select("id_l", "id_r", "cosine")
  }

  /** Query-time top-k ANN over the table-bucketed corpus, with
    * QUERY-DIRECTED MULTI-PROBE (Lv et al., VLDB 2007 — public
    * knowledge): besides its own bucket in each table, a query probes
    * the `multiProbe` buckets reached by flipping its LOWEST-MARGIN
    * signature bits — `|q·h_i|` smallest means the query sits closest
    * to hyperplane i, so a near neighbor most plausibly landed just
    * across it. Probes here are the first-order prefix of the Lv et
    * al. perturbation sequence (single-bit flips in margin order; the
    * full sequence adds multi-bit sets).
    *
    * Why this matters at 100 TB: recall is usually bought with MORE
    * TABLES, but the table count multiplies the persisted index size
    * AND the corpus-side rows through the candidate join, while extra
    * probes only add rows to the tiny query side of the bucket
    * equi-join (broadcast). Multi-probe therefore trades a
    * corpus-proportional cost for a query-proportional one — the same
    * recall at a fraction of the index (measured in the spec: 1 table
    * + 4 probes beats 4 tables + 0 probes on the fixture corpus).
    *
    * The corpus side is bucketed ONCE per table by the same native
    * signature pass as [[nearDupPairs]] (persistable, append-only —
    * exactly the `Layout` cell posture); margins reuse the
    * [[org.apache.spark.sql.graft.VecProject]] dots, whose
    * ascending-index accumulation is the bit-for-bit contract the
    * differential oracle replays.
    *
    * @return (query_id, neighbor_id, cosine, rank) — rank 1..k by
    *         descending cosine, ties by neighbor id ascending (the
    *         [[CosineTopK]]/[[IvfAnn]] contract; approximate —
    *         neighbors sharing no probed bucket are missed)
    */
  def search(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numBits: Int = 8,
      numTables: Int = 4,
      multiProbe: Int = 0,
      excludeSelf: Boolean = true,
      broadcastQueries: Boolean = true,
      probeOrder: Int = 1): DataFrame = {
    require(k > 0 && numBits >= 1 && numBits <= 62 && numTables >= 1,
      s"bad shape k=$k numBits=$numBits numTables=$numTables")
    checkProbeShape(multiProbe, numBits, probeOrder)
    val dim = vecDim(corpus, vecCol)
    // corpus bucketed once per table — one native signature pass; THE
    // corpus-proportional side (at lake scale: persisted, appended to —
    // [[writeIndex]]/[[searchIndex]])
    val csig = bucketedCorpus(corpus, idCol, vecCol, numBits, numTables, dim)
    val qprobes = probeFrame(queries, idCol, vecCol,
      numBits, numTables, multiProbe, dim, probeOrder)
    // query batches too large to broadcast (each query emits
    // numTables·(1 + multiProbe) probe rows): broadcastQueries = false
    // shuffles BOTH sides on (tbl, sig) — the bucketed corpus side is
    // exactly the persistable layout, so at lake scale that shuffle is
    // amortized by writing the signatures partitioned by (tbl, sig)
    val qside = if (broadcastQueries) broadcast(qprobes) else qprobes
    rerank(csig.join(qside, Seq("tbl", "sig")), k, excludeSelf)
  }

  /** The corpus side of the bucket join, signed ONCE for `numTables`
    * tables at `numBits` bits: `(neighbor_id, cv, tbl, sig)` — exposed
    * so callers that probe SEVERAL (tables, probes) configurations at
    * one bit width (the cross-family advisor's lsh grid) pay ONE
    * corpus-proportional signing pass instead of one per
    * configuration. The prefix property that makes the reuse sound:
    * [[hcomp]] depends on the table INDEX, never on the table count,
    * so the `numTables`-table frame filtered to `tbl < T` is
    * bit-identical to signing with `T` tables (spec-pinned). Pin the
    * returned frame (eager localCheckpoint) before fanning searches
    * out, or each search re-runs the signature scan.
    */
  def bucketed(corpus: DataFrame, idCol: String, vecCol: String,
      numBits: Int, numTables: Int): DataFrame = {
    require(numBits >= 1 && numBits <= 62 && numTables >= 1,
      s"bad shape numBits=$numBits numTables=$numTables")
    val dim = vecDim(corpus, vecCol)
    bucketedCorpus(corpus, idCol, vecCol, numBits, numTables, dim)
  }

  /** [[search]] over a pre-signed [[bucketed]] corpus frame: filters
    * the frame to its first `numTables` tables (the prefix property —
    * see [[bucketed]]) and runs the identical probe join + rerank, so
    * `searchBucketed(bucketed(c, …, maxT), …, T, mp)` ≡
    * `search(c, …, T, mp)` for any `T ≤ maxT` while the signing cost
    * is paid once across the whole grid. The query-side dimension is
    * probed from `queries` (same-space contract as the corpus).
    */
  def searchBucketed(
      csig: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numBits: Int,
      numTables: Int,
      multiProbe: Int = 0,
      excludeSelf: Boolean = true,
      broadcastQueries: Boolean = true,
      probeOrder: Int = 1): DataFrame = {
    require(k > 0 && numBits >= 1 && numBits <= 62 && numTables >= 1,
      s"bad shape k=$k numBits=$numBits numTables=$numTables")
    checkProbeShape(multiProbe, numBits, probeOrder)
    val dim = vecDim(queries, vecCol)
    val qprobes = probeFrame(queries, idCol, vecCol,
      numBits, numTables, multiProbe, dim, probeOrder)
    val qside = if (broadcastQueries) broadcast(qprobes) else qprobes
    rerank(csig.filter(col("tbl") < numTables)
      .join(qside, Seq("tbl", "sig")), k, excludeSelf)
  }

  /** `(neighbor_id, cv, tbl, sig)` — the corpus side of the bucket
    * join, one native signature pass. */
  private def bucketedCorpus(corpus: DataFrame, idCol: String,
      vecCol: String, numBits: Int, numTables: Int, dim: Int): DataFrame =
    corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        posexplode(signatures(col(vecCol), numBits, numTables, dim)))
      .withColumnRenamed("pos", "tbl")
      .withColumnRenamed("col", "sig")

  /** `(query_id, qv, tbl, sig)` — one row per probe: each query's own
    * bucket per table plus its `multiProbe` best perturbations.
    * Signatures + all tables' per-plane dots (margins) come from two
    * native passes; everything else is per-probe-row algebra.
    *
    * `probeOrder = 1` (the default everywhere): perturbations are
    * single-bit flips in |margin| order — the first-order prefix of
    * the Lv et al. sequence. `probeOrder = 2` extends the candidate
    * pool with every TWO-bit set, scored by the SUM of its bits'
    * |margins| (the Lv et al. score model: the chance a neighbor sits
    * across BOTH hyperplanes falls with the total margin crossed), and
    * takes the `multiProbe` best sets overall — so a cheap pair like
    * {b1, b2} outranks an expensive single {b5}, exactly the sequence
    * prefix. Ties break to the lexicographically smaller bit set; the
    * scores are exact by the [[hcomp]] integer recipe, so the oracle
    * replays the whole ranking bit-for-bit.
    */
  private[similarity] def probeFrame(queries: DataFrame, idCol: String,
      vecCol: String, numBits: Int, numTables: Int, multiProbe: Int,
      dim: Int, probeOrder: Int = 1): DataFrame = {
    val flat = (0 until numTables).flatMap(t => (0 until numBits).map(i =>
      (0 until dim).map(d => hcomp(t, i, d))))
    val pows = typedLit((0 until numBits).map(i => 1L << i))
    val based = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        org.apache.spark.sql.graft.VecFunctions.vec_project(
          col(vecCol).cast("array<double>"), flat, 1.0).as("__dots"),
        signatures(col(vecCol), numBits, numTables, dim).as("__sigs"))
      .select(col("query_id"), col("qv"), col("__dots"),
        posexplode(col("__sigs")))
      .withColumnRenamed("pos", "tbl")
      .withColumnRenamed("col", "__base")
      .withColumn("__tdots",
        slice(col("__dots"), col("tbl") * lit(numBits) + lit(1), lit(numBits)))
    def margin(i: Column): Column = abs(element_at(col("__tdots"), i + 1))
    if (probeOrder <= 1) based
      // bits ranked by |margin| ascending, ties to the smaller bit —
      // struct sort order, replayed verbatim by the oracle
      .withColumn("__flips",
        slice(array_sort(transform(sequence(lit(0), lit(numBits - 1)),
          i => struct(margin(i).as("m"), i.as("b")))), 1, multiProbe))
      .select(col("query_id"), col("qv"), col("tbl"),
        explode(concat(array(col("__base")),
          transform(col("__flips"), f => col("__base")
            .bitwiseXOR(element_at(pows, f.getField("b") + 1)))))
          .as("sig"))
    else {
      // order 2: candidate sets = all singles ∪ all pairs, ranked by
      // total |margin| (struct sort: score, then the bit set)
      val singles = transform(sequence(lit(0), lit(numBits - 1)),
        i => struct(margin(i).as("m"), array(i).as("bs")))
      val pairs = flatten(transform(sequence(lit(0), lit(numBits - 2)),
        i => transform(sequence(i + 1, lit(numBits - 1)),
          j => struct((margin(i) + margin(j)).as("m"),
            array(i, j).as("bs")))))
      based
        .withColumn("__flips",
          slice(array_sort(concat(singles, pairs)), 1, multiProbe))
        .select(col("query_id"), col("qv"), col("tbl"),
          explode(concat(array(col("__base")),
            transform(col("__flips"), f => col("__base")
              .bitwiseXOR(aggregate(f.getField("bs"), lit(0L),
                (acc, b) => acc + element_at(pows, b + 1))))))
            .as("sig"))
    }
  }

  /** Probe-budget validation shared by [[search]]/[[searchIndex]]:
    * order 1 allows up to `numBits` single-bit perturbations, order 2
    * up to singles + pairs. */
  private def checkProbeShape(multiProbe: Int, numBits: Int,
      probeOrder: Int): Unit = {
    require(probeOrder == 1 || probeOrder == 2,
      s"probeOrder=$probeOrder must be 1 (single-bit) or 2 (+pairs)")
    require(probeOrder == 1 || numBits >= 2,
      "probeOrder=2 needs numBits >= 2 (no pairs exist otherwise)")
    val cap =
      if (probeOrder == 1) numBits
      else numBits + numBits * (numBits - 1) / 2
    require(multiProbe >= 0 && multiProbe <= cap,
      s"multiProbe=$multiProbe must be in [0, $cap] at " +
        s"numBits=$numBits probeOrder=$probeOrder")
  }

  /** Shared tail: dedup pair collisions, exact cosine, dense top-k. */
  private def rerank(joined: DataFrame, k: Int,
      excludeSelf: Boolean): DataFrame = {
    val cand = joined
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id")
        else lit(true))
      // a pair can collide in several tables/probes — once is enough
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cand.select(col("query_id"), col("neighbor_id"),
      VectorOps.cosine(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Persists the table-bucketed signature index as a hive-partitioned
    * layout under `path`: one row per (table, signature) membership,
    * `partitionBy (tbl, sig)` so a probed search opens ONLY the probed
    * bucket directories (the [[graft.sources.Layout]] posture the ANN
    * cell index already proves; `q_ann_lsh_layout` proves it for LSH).
    * Write once, search many query batches; append deltas with
    * [[graft.sources.Layout.appendPartitioned]] (signatures are
    * deterministic in the vector, so appends never rewrite) and compact
    * with [[graft.sources.Layout.compact]].
    *
    * Directory-count sizing: `numTables · 2^numBits` leaf directories.
    * Fine to ~10^5; for wider signatures partition by (tbl, high bits)
    * and sort within files by sig so row-group stats prune the rest.
    */
  def writeIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      numBits: Int = 8,
      numTables: Int = 4): Unit = {
    require(numBits >= 1 && numBits <= 62 && numTables >= 1,
      s"bad shape numBits=$numBits numTables=$numTables")
    val dim = vecDim(corpus, vecCol)
    graft.sources.Layout.writePartitioned(
      bucketedCorpus(corpus, idCol, vecCol, numBits, numTables, dim),
      path, partitionBy = Seq("tbl", "sig"), sortBy = Seq("neighbor_id"))
    // parameter sidecar: a search/append with different (numBits,
    // numTables) — or a different vector DIMENSION, which parameterizes
    // the hyperplanes just as much — lives in a different signature
    // space and would silently return near-empty results; searchIndex
    // and appendIndex fail loudly on mismatch instead
    writeMeta(corpus.sparkSession, path, numBits, numTables, dim)
  }

  /** (Over)writes the parameter sidecar — shared by [[writeIndex]] and
    * [[appendIndex]]'s degraded-check self-heal. */
  private def writeMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, numBits: Int, numTables: Int, dim: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(path, MetaFile), true)
    try out.write(
      s"""{"numBits":$numBits,"numTables":$numTables,"dim":$dim}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Appends a delta corpus to a [[writeIndex]] layout — the index
    * MAINTENANCE path (the [[graft.sources.Layout.appendPartitioned]]
    * contract): signatures are deterministic in the vector, so the
    * appended index is bit-identical to a full rebuild over the union —
    * no re-signing of existing rows, O(delta) write. The sidecar check
    * fails loudly if the delta is signed with different parameters
    * (appending foreign-space signatures would silently poison the
    * buckets). Compact fragmented buckets periodically with
    * [[graft.sources.Layout.compact]] (partitionBy (tbl, sig)) — the
    * root sidecar survives both operations (append adds files; compact
    * overwrites only partition directories).
    */
  def appendIndex(
      delta: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      numBits: Int = 8,
      numTables: Int = 4): Unit = {
    require(numBits >= 1 && numBits <= 62 && numTables >= 1,
      s"bad shape numBits=$numBits numTables=$numTables")
    val dim = vecDim(delta, vecCol)
    val healthy = checkIndexMeta(delta.sparkSession, path,
      readMeta(delta.sparkSession, path), numBits, numTables, dim)
    graft.sources.Layout.appendPartitioned(
      bucketedCorpus(delta, idCol, vecCol, numBits, numTables, dim),
      path, partitionBy = Seq("tbl", "sig"), sortBy = Seq("neighbor_id"))
    // self-heal: after a SUCCESSFUL degraded-check append (missing /
    // pre-dim / unparseable sidecar), the appending caller's full
    // parameters are the freshest truth about the index — write them,
    // so every future append/search is strict-checkable instead of
    // warning forever. Only appends heal (a search is a read; it
    // should not write into the index directory).
    if (!healthy) {
      writeMeta(delta.sparkSession, path, numBits, numTables, dim)
      log.warn(s"backfilled LSH index sidecar at $path from the " +
        s"appending caller's parameters (numBits=$numBits " +
        s"numTables=$numTables dim=$dim) — the index self-healed to " +
        "strict-checkable")
    }
  }

  private val MetaFile = "_graft_lsh_meta.json"

  /** The sidecar's integer fields (`numBits`, `numTables`, `dim`; a
    * field the file lacks, or a file that does not parse, leaves it
    * out), or None when the index has no sidecar. */
  private def readMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Map[String, Int]] = {
    val p = new org.apache.hadoop.fs.Path(path, MetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(Seq("numBits", "numTables", "dim").flatMap(k =>
        s""""$k"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(txt)
          .map(m => k -> m.group(1).toInt)).toMap)
    }
  }

  /** Fails loudly when a [[writeIndex]] sidecar (as [[readMeta]] parsed
    * it) disagrees with the caller's parameters — numBits, numTables,
    * and the vector DIMENSION, which parameterizes the hyperplanes just
    * as much as the bit count. A degraded check (pre-sidecar index with
    * no file, a pre-dim sidecar, or a corrupt/hand-edited one) passes
    * through — but WARNS, so the silent near-empty-result failure mode the
    * sidecar exists to prevent is at least visible in the logs — or
    * FAILS, when the session opts into
    * `spark.graft.lsh.strictIndexMeta=true` (deployments where every
    * index is known to carry a sidecar should refuse degraded checks
    * outright).
    *
    * @return true when the check ran at full strength (parseable
    *         sidecar; numBits, numTables and dim verified); false when
    *         any part was degraded — the signal [[appendIndex]] uses to
    *         self-heal the sidecar after a successful append. */
  private def checkIndexMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, meta: Option[Map[String, Int]], numBits: Int,
      numTables: Int, dim: Int): Boolean = {
    val strict = spark.conf
      .get("spark.graft.lsh.strictIndexMeta", "false").toBoolean
    def degraded(msg: String): Boolean =
      if (strict) throw new IllegalStateException(
        s"$msg (spark.graft.lsh.strictIndexMeta=true refuses degraded " +
          "parameter checks)")
      else { log.warn(msg); false }
    val p = new org.apache.hadoop.fs.Path(path, MetaFile)
    meta match {
      case None => degraded(
        s"LSH index at $path has no $MetaFile sidecar (pre-sidecar index?) " +
          "— parameter check SKIPPED; a (numBits, numTables) mismatch " +
          "would return near-empty results silently")
      case Some(m) => (m.get("numBits"), m.get("numTables")) match {
        case (Some(b), Some(t)) =>
          require(b == numBits && t == numTables,
            s"index at $path was written with numBits=$b numTables=$t; " +
              s"searched with numBits=$numBits numTables=$numTables — " +
              "signatures live in different spaces")
          m.get("dim") match {
            case Some(d0) =>
              require(d0 == dim, dimMismatch(path, d0, dim))
              true
            case None => degraded(
              s"LSH index sidecar $p predates the dim field — dimension " +
                "check SKIPPED; a dimension mismatch would land rows in " +
                "a foreign signature space silently")
          }
        case _ => degraded(
          s"LSH index sidecar $p exists but is unparseable — parameter " +
            s"check SKIPPED; a (numBits, numTables) mismatch would return " +
            "near-empty results silently")
      }
    }
  }

  private def dimMismatch(path: String, indexDim: Int, callDim: Int): String =
    s"index at $path was written over dimension-$indexDim vectors; this " +
      s"call carries dimension-$callDim vectors — the hyperplanes (and so " +
      "the signatures) differ"

  /** Multi-probe top-k over a persisted [[writeIndex]] layout. The
    * dimension comes from the sidecar (a pre-dim index probes the
    * queries instead). The probe frame is collected ONCE (bounded:
    * |queries| · numTables · (1 + multiProbe) rows — the query batch is
    * small by the same contract as [[search]]'s broadcast), every row's
    * vector size is checked against the dimension on the driver, and
    * the rows feed both sides of the search: their (tbl, sig) set is
    * pushed as a LITERAL partition predicate, so the scan opens only the
    * probed directories — `PartitionFilters` in the plan, no full-index
    * read (spec-pinned) — and a local relation of the same rows is the
    * broadcast side of the bucket join. Nothing stays pinned.
    * Row-identical to [[search]] over the same corpus.
    */
  def searchIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numBits: Int = 8,
      numTables: Int = 4,
      multiProbe: Int = 0,
      excludeSelf: Boolean = true,
      probeOrder: Int = 1): DataFrame = {
    require(k > 0 && numBits >= 1 && numBits <= 62 && numTables >= 1,
      s"bad shape k=$k numBits=$numBits numTables=$numTables")
    checkProbeShape(multiProbe, numBits, probeOrder)
    val meta = readMeta(spark, path)
    val indexDim = meta.flatMap(_.get("dim"))
    val dim = indexDim.getOrElse(vecDim(queries, vecCol))
    checkIndexMeta(spark, path, meta, numBits, numTables, dim)
    val qprobes = probeFrame(queries, idCol, vecCol,
      numBits, numTables, multiProbe, dim, probeOrder)
    // (query_id, qv, tbl, sig): a null vector has no signatures, so no
    // rows means no query with a vector
    val rows = qprobes.collect()
    require(rows.nonEmpty, noDimension(vecCol))
    rows.iterator.map(_.getSeq[Any](1).length).find(_ != dim).foreach { d =>
      throw new IllegalArgumentException(
        if (indexDim.isDefined) dimMismatch(path, dim, d)
        else ragged(vecCol, dim min d, dim max d))
    }
    // partition pruning needs literals at plan time (a join would need
    // runtime DPP; the literal form is deterministic and visible in
    // PartitionFilters)
    val pred = rows.map(r => (r.getInt(2), r.getLong(3))).distinct
      .groupBy(_._1).map { case (t, sigs) =>
        col("tbl") === t && col("sig").isin(sigs.map(_._2).toSeq: _*)
      }.reduce(_ || _)
    val side = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), qprobes.schema)
    rerank(graft.sources.Layout.read(spark, path).filter(pred)
      .join(broadcast(side), Seq("tbl", "sig")), k, excludeSelf)
  }
}

/** Embedding-cosine near-duplicate detection: exact within-block all-pairs
  * (use a selective block, e.g. a cluster label or LSH signature) — the
  * brute-force complement to [[LshAnn.nearDupPairs]].
  *
  * `blockBy = Nil` means a full cartesian self-join — quadratic, a
  * scale-killer on anything corpus-sized — so it FAILS LOUDLY unless the
  * caller passes `allowCartesian = true` to assert the input is small
  * (a verification kernel, a per-cluster refinement).
  */
object EmbeddingDedup {

  def apply(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      blockBy: Seq[String] = Nil,
      allowCartesian: Boolean = false): DataFrame = {
    require(blockBy.nonEmpty || allowCartesian,
      "EmbeddingDedup with blockBy = Nil is a full cartesian self-join " +
        "(quadratic); pass blockBy (cluster label, LSH signature) or " +
        "explicitly opt in with allowCartesian = true for small inputs")
    val base = df.select(
      (col(idCol).as("id") +: col(vecCol).as("v") +:
        VectorOps.norm(col(vecCol)).as("nrm") +: blockBy.map(col)): _*)
    val l = base.select(
      (col("id").as("id_l") +: col("v").as("v_l") +:
        col("nrm").as("n_l") +: blockBy.map(col)): _*)
    val r = base.select(
      (col("id").as("id_r") +: col("v").as("v_r") +:
        col("nrm").as("n_r") +: blockBy.map(col)): _*)
    // id_l < id_r inside the join condition: evaluated at probe time,
    // before the (wide, vector-carrying) output row is materialized
    val pairCond = blockBy.map(c => l(c) === r(c))
      .foldLeft(col("id_l") < col("id_r"))(_ && _)
    val joined0 = if (blockBy.nonEmpty) l.join(r, pairCond)
      else l.crossJoin(r).filter(col("id_l") < col("id_r"))
    val joined = blockBy.foldLeft(joined0)((d, c) => d.drop(r(c)))
    val denom = col("n_l") * col("n_r")
    joined
      .withColumn("cosine", when(denom === 0, lit(0.0))
        .otherwise(VectorOps.dot(col("v_l"), col("v_r")) / denom))
      .filter(col("cosine") >= threshold)
      .select("id_l", "id_r", "cosine")
  }
}
