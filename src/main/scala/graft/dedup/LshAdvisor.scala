package graft.dedup

import graft.text.Shingles
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin

/** Recall-targeted MinHash-LSH banding advisor — the dedup-side sibling
  * of [[graft.similarity.AnnAdvisor]]: `q_ann_recall` measures and
  * `AnnAdvisor` PICKS for the ANN family; this picks `(bands, rows)`
  * for [[MinHashDedup]].
  *
  * The choice it automates: with a fixed signature budget of
  * `numHashes = b·r` minhashes, banding into more bands raises the
  * S-curve (`P(candidate | J) = 1 − (1 − J^r)^b`) — better recall at
  * the threshold, but a flatter curve below it, i.e. more false
  * candidates to verify. The verification join is the cost that scales
  * with the corpus (every candidate pair re-reads two shingle sets), so
  * the advisor returns the configuration with the FEWEST measured
  * candidate pairs that still meets a recall floor against the EXACT
  * Jaccard pair set — measured on a corpus sample, not read off the
  * analytic curve, because real corpora are not uniform over J: the
  * candidate count is dominated by the corpus's actual similarity mass
  * just below the threshold, which no closed form sees. The analytic
  * S-curve value at the threshold is still reported per row as the
  * sanity anchor (measured recall ≈ the curve when the sample's true
  * pairs sit near the threshold; well above it, measured recall runs
  * higher).
  *
  * Determinism / engine portability (the repo contract — the driver's
  * DuckDB oracle replays the WHOLE procedure, sampling, signatures,
  * banding, counts, and choice rule): the document sample is the
  * md5-rank bottom `sampleDocs` ids, and every hash in the advisor is
  * the md5-60-bit fold (`conv(substring(md5(x), 1, 15), 16, 10)`) —
  * unlike the production path's `xxhash64`, md5 exists in every engine.
  * The (b, r) advice transfers to the production hash family: recall
  * depends on the hashes only through uniformity, which both families
  * have; a differential spec pins advisor-measured recall against the
  * production [[MinHashDedup]] pair set on the same fixture.
  *
  * Cost / scale posture: everything downstream of the sample is bounded
  * by `sampleDocs`, never the corpus — the exact pair set comes from an
  * inverted-index self-join on shingles (linear in the sample's posting
  * lists; exact for `threshold > 0` because a pair with positive
  * Jaccard shares a shingle), signatures are `sampleDocs · grams · k`
  * md5 calls, and each banding candidate is one equi-self-join on
  * `(band, bucket)`. The driver collects one count row per
  * configuration plus nothing else. Advice is a property of the data
  * DISTRIBUTION; run it on a fixed-size sample at any corpus scale.
  */
object LshAdvisor {

  /** One measured banding configuration. `sCurve` is the analytic
    * collision probability at the Jaccard threshold; `candidates` is
    * the measured distinct candidate-pair count (the verification bill);
    * `hits` of `truePairs` exact pairs were found (recall = hits /
    * truePairs).
    */
  final case class Measured(numBands: Int, rowsPerBand: Int, sCurve: Double,
      truePairs: Long, candidates: Long, hits: Long, recall: Double)

  /** The advice plus the full measured table (for SCALING.md-style
    * reporting and callers preferring a different trade).
    */
  final case class Advice(chosen: Option[Measured], table: Seq[Measured])

  /** 60-bit md5 fold of a string column — the engine-portable hash every
    * advisor stage uses (DuckDB spells it
    * `('0x' || substring(md5(x), 1, 15))::BIGINT`).
    */
  private def md5Long(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** @param numHashes      signature budget k; every candidate band count
    *                       must divide it
    * @param threshold      true-Jaccard duplicate threshold the recall is
    *                       measured at
    * @param recallFloor    minimum acceptable measured recall (0, 1]
    * @param bandCandidates candidate band counts b (r = k/b each)
    * @param sampleDocs     deterministic document-sample size — the bound
    *                       on every downstream stage
    */
  def advise(
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 32,
      shingleN: Int = 3,
      threshold: Double = 0.8,
      recallFloor: Double = 0.95,
      bandCandidates: Seq[Int] = Seq(4, 8, 16, 32),
      sampleDocs: Int = 512): Advice = {
    require(numHashes > 0 && sampleDocs > 0, "numHashes > 0, sampleDocs > 0")
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    require(recallFloor > 0 && recallFloor <= 1, "recallFloor in (0, 1]")
    val bands = bandCandidates.distinct.sorted
    require(bands.nonEmpty && bands.forall(b => b > 0 && numHashes % b == 0),
      s"every band candidate must divide numHashes=$numHashes")

    // deterministic, engine-portable sample, pinned behind a checkpoint
    // barrier (see Sampling.md5RankPinned — without the barrier
    // Catalyst pushes the `size(sh) > 0` filter, gram expression
    // substituted in, below the semi join onto the CORPUS side: the
    // only corpus-proportional stage this advisor is allowed is the
    // sample scan itself)
    val sample = graft.sample.Sampling.md5RankPinned(
      corpus.filter(col(textCol).isNotNull), idCol, sampleDocs)
    // distinct shingle strings per sampled doc; docs with no shingles
    // drop out (nothing to compare) — pinned: feeds the exact pair set
    // AND the signature computation
    val grams = Pin(sample
      .select(col(idCol).as("id"), col(textCol).as("__text"))
      .select(col("id"), Shingles.tokens(col("__text")).as("tk"))
      // zero-token docs (whitespace-only text) are dropped BEFORE
      // shingling: the sliding-window gram over an empty token array
      // yields a single "" shingle, which would make two blank docs an
      // exact dup pair (Jaccard 1) — and diverge from engines whose
      // list-aggregate over an empty slice is NULL (the DuckDB oracle)
      .filter(size(col("tk")) >= 1)
      // tokens staged first: the sliding-window lambda re-evaluates a
      // non-column input per gram (Shingles.wordNGramsFromTokens doc)
      .select(col("id"),
        Shingles.wordNGramsFromTokens(col("tk"), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)).df

    // exact Jaccard pairs at the threshold, via the inverted-index
    // self-join (exact for threshold > 0: a positive-Jaccard pair
    // shares a shingle). Pinned — every configuration's hit count
    // re-reads it, and the pin's job counts it.
    val posting = grams.select(col("id"), col("sh"),
        explode(col("sh")).as("g"))
      .select(col("id"), col("g"), size(col("sh")).as("n"))
    val truthPin = Pin(posting.as("a").join(posting.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_l"), col("b.id").as("id_r"),
        col("a.n").as("n_l"), col("b.n").as("n_r"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter").cast("double") /
        (col("n_l") + col("n_r") - col("inter")) >= threshold)
      .select(col("id_l"), col("id_r")))
    val truth = truthPin.df
    val truePairs = truthPin.rows

    // k-minhash signatures over md5-hashed shingles, one array column;
    // pinned — sliced per band configuration
    val sigExpr = transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(col("sh"),
        g => md5Long(concat(i.cast("string"), lit(":"), g)))))
    val sigs = Pin(grams.select(col("id"), sigExpr.as("sig"))).df

    // one 1-row leg per band candidate, unioned and collected ONCE: the
    // advisor's cost is job-count-dominated, not data-dominated, and one
    // action lets the per-band legs' stages run concurrently instead of
    // as |bands| sequential driver round-trips (the same batching the
    // ANN advisor's candidate counts use)
    val legs = bands.zipWithIndex.map { case (b, bi) =>
      val r = numHashes / b
      // band buckets: hash each r-slice of the signature; candidates =
      // distinct same-bucket pairs across bands (each band is one
      // equi-self-join key — never a cartesian)
      val bucketExpr = posexplode(transform(sequence(lit(0), lit(b - 1)),
        band => md5Long(concat(band.cast("string"), lit(":"),
          concat_ws(",", slice(col("sig"), band * lit(r) + lit(1), lit(r))
            .cast("array<string>"))))))
      val buckets = sigs.select(col("id"), bucketExpr)
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bucket")
      val cand = buckets.as("a").join(buckets.as("b"),
          col("a.band") === col("b.band") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_l"), col("b.id").as("id_r"))
        .distinct()
      // candidates + hits in ONE pass (a left join against the pinned
      // truth, counted together)
      cand
        .join(truth.withColumn("__t", lit(1)), Seq("id_l", "id_r"), "left")
        .agg(count(lit(1)).as("c"),
          coalesce(sum(col("__t")), lit(0L)).as("h"))
        .select(lit(bi).as("i"), col("c"), col("h"))
    }
    val measured = legs.reduce(_.unionByName(_)).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val table = bands.zipWithIndex.map { case (b, bi) =>
      val r = numHashes / b
      val (candidates, hits) = measured(bi)
      val sCurve = 1.0 - math.pow(1.0 - math.pow(threshold, r), b)
      Measured(b, r, sCurve, truePairs, candidates, hits,
        if (truePairs == 0) 1.0 else hits.toDouble / truePairs)
    }
    // cheapest verification bill meeting the floor; ties prefer higher
    // recall, then fewer bands (fewer bands = fewer exploded bucket rows
    // = a smaller banding shuffle at corpus scale)
    val chosen = table.filter(_.recall >= recallFloor)
      .sortBy(m => (m.candidates, -m.recall, m.numBands))
      .headOption
    Seq(sample, grams, truth, sigs).foreach(Pin.free)
    Advice(chosen, table)
  }
}
