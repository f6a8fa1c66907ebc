package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization ANN (Jégou, Douze, Schmid, "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011) — the compressed-domain
  * scale path beyond [[IvfAnn]]'s cell pruning and [[Quantize]]'s int8
  * codes.
  *
  * The vector space is split into `m` contiguous subspaces of
  * `dsub = dim / m` components each; every subspace gets its own
  * codebook of `ksub` centroids trained by Lloyd iterations, and a
  * corpus vector is stored as `m` small codes (one byte each for
  * ksub ≤ 256). Search is ADC (asymmetric distance computation): a
  * query precomputes an `m × ksub` lookup table of exact
  * query-subvector ↔ centroid distances, and a corpus vector's
  * approximate squared distance is the sum of `m` table lookups — no
  * float math per corpus component at all.
  *
  * Why it matters at 100 TB: a 64-dim float32 embedding is 256 B; its
  * PQ code (m = 8) is 8 B — 32×. The corpus scan that ADC does runs
  * over the CODE table, so a 100 TB embedding store becomes a ~3 TB
  * compressed scan, and the per-query state is one m·ksub Long table.
  *
  * Determinism contract (the [[KMeans]] / [[graft.graph.PageRank]]
  * one): components are quantized ONCE to `floor(x · scale)` longs,
  * every distance is an exact integer sum of squares, centroid updates
  * are truncating Long division, and ADC sums are exact Longs — codes,
  * distances, and ranks are bit-identical under any partitioning and in
  * any engine with 64-bit integers (the DuckDB oracle replays the same
  * iterations with zero float tolerance).
  *
  * Plan shape:
  *   - `fit` trains ALL `m` codebooks in one shuffle per iteration:
  *     assignment is a map-side expression against the codebook
  *     literals, and the update aggregates `(subspace, code, pos)` →
  *     (sum, count) — the collect is bounded by m·ksub·dsub rows,
  *     corpus-size-independent;
  *   - `encode` is a pure projection (write the codes next to the data:
  *     that column IS the index, and it costs m bytes/row);
  *   - `search` broadcasts the queries WITH their lookup tables and
  *     streams the code table; per-query top-k via the rank window
  *     (WindowGroupLimit prunes map-side). Compose with [[IvfAnn]]
  *     cells (`coarse`) to prune the scan to `nprobe/nlist` of the
  *     corpus — the classic IVF-ADC layout (codes here are over the raw
  *     vectors, not cell residuals: one codebook serves every cell, at
  *     some recall cost vs residual encoding — a MEASURED trade:
  *     `q_ann_recall` shows residual coding HURTS on an unclustered
  *     corpus (cell means ≈ 0 ⇒ residuals carry the raw variance plus
  *     centroid noise; 0.34 → 0.17 recall@10 at sf0.1, and a trained
  *     coarse quantizer does not rescue it) and pays only when the
  *     corpus is genuinely clustered — run the recall harness on YOUR
  *     corpus before choosing [[fitResidual]] over [[fit]]).
  */
object PqAnn {

  /** Trained codebooks: `codebooks(s)(j)` is subspace `s`'s code-`j`
    * centroid (length dsub) in fixed-point units of `1/scale`.
    */
  case class Model(codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Long]]], scale: Long) {
    require(codebooks.nonEmpty && codebooks.head.nonEmpty &&
      codebooks.head.head.nonEmpty, "empty codebooks")
    val m: Int = codebooks.length
    val ksub: Int = codebooks.head.length
    val dsub: Int = codebooks.head.head.length
    require(codebooks.forall(cb => cb.length == ksub &&
      cb.forall(_.length == dsub)), "ragged codebooks")

    /** floor(x · scale) as array<long> — the one quantization step. */
    def quantize(v: Column): Column =
      transform(v, x => floor(x.cast("double") * scale).cast("long"))

    /** Exact integer squared distance between QUANTIZED subvector
      * `s` of subspace `si` and centroid `j` — the composed form,
      * kept as [[lutQuantizedComposed]]'s kernel so the differential
      * spec can pin the native [[org.apache.spark.sql.graft.VecPqLut]]
      * bit-for-bit. */
    private[similarity] def subDist(q: Column, si: Int, j: Int): Column =
      aggregate(
        zip_with(slice(q, si * dsub + 1, dsub), typedLit(codebooks(si)(j)),
          (x, c) => (x - c) * (x - c)),
        lit(0L), (acc, v) => acc + v)

    /** PQ codes of RAW vector `v`: array<int> of length m. */
    def encode(v: Column): Column = encodeQuantized(quantize(v))

    /** encode() over an ALREADY-quantized column (fit's internal
      * frame — avoids double quantization). Native
      * [[org.apache.spark.sql.graft.VecPqCodes]]: the composed
      * per-subspace argmin unrolled m·ksub interpreted HOF folds into
      * the encode projection — the round-9 generated-code-size rule
      * (SCALING.md); `PqAnnSpec` pins bit-equality to the composed
      * form. */
    private[similarity] def encodeQuantized(q: Column): Column =
      org.apache.spark.sql.graft.VecFunctions.vec_pq_codes(q, codebooks)

    /** ADC lookup table of RAW query vector `v`: array<array<bigint>>,
      * `lut[s][j]` = exact distance from the query's subspace-`s`
      * subvector to centroid `j`. */
    def lut(v: Column): Column = lutQuantized(quantize(v))

    /** [[lut]] over an ALREADY-quantized (or residual) column. Native
      * [[org.apache.spark.sql.graft.VecPqLut]]: the composed m·ksub
      * subDist chain was tolerable at the 64-entry demo budget but
      * dominated the whole search at production ksub = 256 (2048
      * interpreted HOF entries per query row — AnnProbe measured it
      * slower than the interpreted-everything control; SCALING.md).
      * Query-side only; the corpus-scan hot loop is the native
      * [[adc]]. */
    private[similarity] def lutQuantized(q: Column): Column =
      org.apache.spark.sql.graft.VecFunctions.vec_pq_lut(q, codebooks)

    /** The pre-round-11 composed lut — the differential spec's oracle
      * for [[lutQuantized]]'s native expression (bit-equality). */
    private[similarity] def lutQuantizedComposed(q: Column): Column =
      array((0 until m).map { si =>
        array((0 until ksub).map(j => subDist(q, si, j)): _*)
      }: _*)

    /** Approximate squared distance = sum of m table lookups (exact
      * Long). Native [[org.apache.spark.sql.graft.VecAdc]] — this is
      * the per-candidate inner loop of the search scan, which the
      * composed `aggregate(zip_with(element_at))` ran on the
      * interpreted HOF path. */
    def adc(codes: Column, lutCol: Column): Column =
      org.apache.spark.sql.graft.VecFunctions.vec_adc(codes, lutCol)
  }

  /** Train all m codebooks with `iters` Lloyd iterations. Returns the
    * model and the encoded corpus `(idCol, pq_codes)`.
    *
    * Seeds: subspace `s`'s codebook = the subvectors of the `ksub`
    * smallest-id rows — reproducible everywhere, no RNG (swap a
    * k-means|| seeding in when cross-engine reproducibility is not
    * required). Codes that lose every point keep their centroid.
    */
  def fit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int,
      iters: Int,
      scale: Long = 1L << 20): (Model, DataFrame) = {
    val seedM = Model(IndexedSeq(IndexedSeq(IndexedSeq(0L))), scale) // quantize only
    val pts0 = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__pqid"), seedM.quantize(col(vecCol)).as("__pqq"))
    val (model, pts, _) = trainOn(pts0, m, ksub, iters, scale)
    (model, pts.select(col("__pqid").as(idCol),
      model.encodeQuantized(col("__pqq")).as("pq_codes")))
  }

  /** The shared Lloyd training core: `pts0` carries `__pqid` and the
    * pre-quantized (raw or RESIDUAL) vector `__pqq`; extra columns pass
    * through to the returned (checkpointed) frame. Returns the trained
    * model, the frame, and the learned dimension.
    */
  private def trainOn(
      pts0: DataFrame,
      m: Int,
      ksub: Int,
      iters: Int,
      scale: Long): (Model, DataFrame, Int) = {
    require(m > 0 && ksub > 0 && iters >= 0, "m > 0, ksub > 0, iters >= 0")
    require(scale > 0 && java.lang.Long.bitCount(scale) == 1,
      "scale must be a power of two (exact double multiplication)")
    require(scale <= (1L << 28), s"scale=$scale leaves no distance headroom")
    // one pin, the ragged-dim guard measured on its job (cf. KMeans.fit —
    // a short vector would null-pad zip_with and corrupt the argmin)
    val (pts, dim) = KMeans.pinVectors(pts0, "__pqq", ksub, "")
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val dsub = dim / m
    // ADC sums all dim terms: the same Long-headroom bound as KMeans
    require(dim.toLong <= Long.MaxValue / (4L * scale * scale),
      s"dim=$dim at scale=$scale can overflow 64-bit distances")

    // deterministic seeds: subvectors of the ksub smallest ids
    val seedRows = pts.orderBy(col("__pqid")).limit(ksub)
      .select(col("__pqq")).collect()
      .map(_.getSeq[Long](0).toIndexedSeq)
    require(seedRows.length == ksub, s"need >= $ksub non-null vectors")
    var codebooks: IndexedSeq[IndexedSeq[IndexedSeq[Long]]] =
      IndexedSeq.tabulate(m)(si =>
        seedRows.toIndexedSeq.map(r => r.slice(si * dsub, (si + 1) * dsub)))

    for (_ <- 1 to iters) {
      val mod = Model(codebooks, scale)
      // ONE shuffle updates every subspace: explode positions, route
      // each component to its (subspace, winning code, within-pos)
      // cell. Collect is bounded by m·ksub·dsub rows.
      val sums = pts
        .select(col("__pqq"),
          mod.encodeQuantized(col("__pqq")).as("__codes"))
        .select(posexplode(col("__pqq")), col("__codes"))
        .select((col("pos") / dsub).cast("int").as("__s"),
          element_at(col("__codes"), (col("pos") / dsub).cast("int") + 1).as("__c"),
          (col("pos") % dsub).cast("int").as("__w"),
          col("col").as("__v"))
        .groupBy(col("__s"), col("__c"), col("__w"))
        .agg(sum(col("__v")).as("sm"), count(lit(1)).as("n"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)),
          (r.getLong(r.fieldIndex("sm")), r.getLong(r.fieldIndex("n")))))
        .toMap
      codebooks = IndexedSeq.tabulate(m) { si =>
        IndexedSeq.tabulate(ksub) { j =>
          IndexedSeq.tabulate(dsub) { w =>
            sums.get((si, j, w)) match {
              case Some((sm, cnt)) => sm / cnt // truncation — DuckDB `//`
              case None            => codebooks(si)(j)(w) // empty code
            }
          }
        }
      }
    }

    (Model(codebooks, scale), pts, dim)
  }

  /** Residual-encoded IVF-PQ (the classic IVFADC layout, Jégou et al.
    * TPAMI 2011 §IV): codebooks are trained on CELL RESIDUALS
    * `quantize(x) − quantize(centroid(cell(x)))` instead of raw
    * vectors. Residuals of a decent coarse quantizer are concentrated
    * near the origin, so the same code budget spends its resolution on
    * a much smaller ball than the one-codebook-per-corpus shortcut
    * [[fit]] takes — the recall delta is MEASURED, not assumed:
    * `q_ann_recall` surfaces both variants' recall@10 against the
    * exact brute top-k (numbers in SCALING.md round 10).
    *
    * Determinism: centroids quantize once to `floor(c · scale)` (exact
    * for power-of-two scales), residuals are exact Long differences,
    * and everything downstream is [[fit]]'s integer Lloyd — the DuckDB
    * oracle replays training, encoding, and search bit-identically.
    *
    * @return the model and the encoded corpus
    *         `(idCol, pq_codes, cell)` — the cell column is part of
    *         the index (ADC needs the neighbor's cell to pick the
    *         query-residual lookup table)
    */
  def fitResidual(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: IvfAnn.Model,
      m: Int,
      ksub: Int,
      iters: Int,
      scale: Long = 1L << 20): (ResidualModel, DataFrame) = {
    val seedM = Model(IndexedSeq(IndexedSeq(IndexedSeq(0L))), scale)
    val centroidsQ: IndexedSeq[IndexedSeq[Long]] =
      coarse.centroids.map(_.map(c => math.floor(c * scale).toLong)
        .toIndexedSeq).toIndexedSeq
    require(centroidsQ.map(_.length).distinct.length == 1,
      "ragged coarse centroids")
    val pts0 = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__pqid"),
        coarse.cell(col(vecCol).cast("array<double>")).as("__pqcell"),
        seedM.quantize(col(vecCol)).as("__pqq0"))
      .select(col("__pqid"), col("__pqcell"),
        zip_with(col("__pqq0"),
          element_at(typedLit(centroidsQ), col("__pqcell") + 1),
          (a, b) => a - b).as("__pqq"))
    val (model, pts, dim) = trainOn(pts0, m, ksub, iters, scale)
    // a centroid/data dim mismatch would have null-padded the zip_with
    // residuals silently — fail loudly instead
    require(centroidsQ.head.length == dim,
      s"coarse centroid dim ${centroidsQ.head.length} != data dim $dim")
    (ResidualModel(model, coarse, centroidsQ),
      pts.select(col("__pqid").as(idCol),
        model.encodeQuantized(col("__pqq")).as("pq_codes"),
        col("__pqcell").as("cell")))
  }

  /** [[fitResidual]]'s trained state: the per-subspace codebooks (over
    * residuals), the coarse quantizer, and its quantized centroids. */
  case class ResidualModel(
      pq: Model,
      coarse: IvfAnn.Model,
      centroidsQ: IndexedSeq[IndexedSeq[Long]]) {

    /** Residual of an ALREADY-quantized vector w.r.t. `cell`. */
    private[similarity] def residual(q: Column, cell: Column): Column =
      zip_with(q, element_at(typedLit(centroidsQ), cell + 1),
        (a, b) => a - b)
  }

  /** Top-k neighbors per query by ADC over RESIDUAL codes. Unlike
    * [[search]]'s raw-code coarse path (one lookup table per query),
    * the query builds one table per PROBED CELL — `lut(q, cell)` is the
    * distance table of the query's residual w.r.t. that cell, and a
    * candidate in that cell is scored against exactly that table, so
    * the ADC sum approximates `‖q − x‖²` with both vectors expressed
    * relative to the same centroid. Query-side cost grows nprobe× (the
    * cells are exploded before the lut projection); the corpus-side
    * scan — the 100 TB term — is unchanged: probed-cell equi-join +
    * native [[org.apache.spark.sql.graft.VecAdc]].
    */
  def searchResidual(
      corpusCodes: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      codesCol: String,
      cellCol: String,
      k: Int,
      model: ResidualModel,
      nprobe: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val q0 = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"),
        model.pq.quantize(col(vecCol)).as("__qq"),
        explode(model.coarse.probes(
          col(vecCol).cast("array<double>"), nprobe)).as("__cell"))
      // project the residual to a PLAIN column before the lut —
      // lutQuantized's documented contract: its m·ksub subDist chain
      // evaluates the input expression once per entry, so a composed
      // zip_with here would be re-evaluated m·ksub times per
      // (query, probed cell). CollapseProject leaves the split alone:
      // the alias is non-cheap and multiply-referenced.
      .select(col("query_id"), col("__cell"),
        model.residual(col("__qq"), col("__cell")).as("__res"))
      .select(col("query_id"), col("__cell"),
        model.pq.lutQuantized(col("__res")).as("__lut"))
    val q = broadcast(q0)
    // BOUNDED collect: distinct probed cells ≤ nlist ints — planted as
    // a static IN filter so a cell-partitioned layout prunes
    // directories at listing time (same rationale as [[search]])
    val probed = q.select(col("__cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val c = corpusCodes
      .filter(col(cellCol).isInCollection(probed))
      .select(col(idCol).as("neighbor_id"),
        col(codesCol).as("__codes"), col(cellCol).as("__cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    c.join(q, "__cell")
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id")
              else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        model.pq.adc(col("__codes"), col("__lut")).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Top-k neighbors per query by ADC distance over the code table.
    *
    * @param corpusCodes (idCol, codesCol) — the encoded corpus
    * @param queries     (idCol, vecCol) raw query vectors — small;
    *                    broadcast with their lookup tables
    * @param coarse      optional IVF composition: (cell column already
    *                    present on corpusCodes, coarse model, nprobe) —
    *                    prunes the scan to the probed cells
    * @return (query_id, neighbor_id, adist, rank) — rank 1..k by
    *         ascending ADC distance, ties by neighbor id ascending
    */
  def search(
      corpusCodes: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      codesCol: String,
      k: Int,
      model: Model,
      excludeSelf: Boolean = true,
      coarse: Option[(String, IvfAnn.Model, Int)] = None): DataFrame = {
    // null query vectors are DROPPED (matching fit's corpus filter):
    // quantize(null) would make every subDist null, turning the lut into
    // a non-null array whose LEAF slots are null — VecAdc would read
    // those as 0 and rank arbitrary corpus rows at adist=0
    val q0 = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("query_id"), model.lut(col(vecCol)).as("__lut"),
        // IvfAnn's cosine expressions require array<double>
        col(vecCol).cast("array<double>").as("__qv"))
    val scored = coarse match {
      case None =>
        val c = corpusCodes.select(col(idCol).as("neighbor_id"),
          col(codesCol).as("__codes"))
        c.crossJoin(broadcast(q0.drop("__qv")))
      case Some((cellCol, cm, nprobe)) =>
        val q = broadcast(q0
          .select(col("query_id"), col("__lut"),
            explode(cm.probes(col("__qv"), nprobe)).as("__cell")))
        // Static partition pruning: the probed-cell set is tiny and
        // known up front (≤ nlist ints — queries are small by this
        // operator's contract), so plant it as an IN filter on the
        // corpus side. When corpusCodes is a cell-partitioned layout
        // the filter prunes DIRECTORIES at listing time — dynamic
        // pruning can't serve here because the probe cells come
        // through a Generate, which breaks DPP's join-key lineage.
        val probed = q.select(col("__cell")).distinct()
          .collect().map(_.getInt(0)).toSeq
        val c = corpusCodes
          .filter(col(cellCol).isInCollection(probed))
          .select(col(idCol).as("neighbor_id"),
            col(codesCol).as("__codes"), col(cellCol).as("__cell"))
        c.join(q, "__cell")
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    scored
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        model.adc(col("__codes"), col("__lut")).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
