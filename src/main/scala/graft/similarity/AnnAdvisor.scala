package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin

/** Recall-targeted CROSS-FAMILY ANN advisor — the decision procedure
  * on top of the recall harness (`q_ann_recall` measures; this PICKS).
  *
  * For a corpus and a recall floor, the advisor measures recall@k
  * against the exact brute top-k for every candidate configuration —
  * seed-IVF and trained-IVF cells (cell-probe) AND random-hyperplane
  * multi-probe LSH (hash-probe) — on a deterministic query sample, and
  * returns the configuration that meets the floor at the SMALLEST
  * probed fraction `nprobe / nlist` — the quantity that prices a query
  * at lake scale (a cell-partitioned index opens `nprobe/nlist` of its
  * directories per query batch, and a bucketed signature index scans
  * an expected `probes/2^bits` of its rows; see `q_ann_layout` /
  * `q_ann_lsh_layout`). Ties prefer the larger `nlist` (same probed
  * fraction, smaller individual cells ⇒ cheaper per-cell scans and
  * finer future pruning).
  *
  * Everything follows the repo determinism contract: the query sample
  * is the md5-rank bottom `sampleQueries` ids (engine-portable, no
  * RNG), the coarse quantizers are the deterministic seed models
  * ([[IvfAnn.fit]] — smallest-id vectors) plus, for each entry in
  * `trainedNlists`, the integer-Lloyd-TRAINED quantizer
  * ([[KMeans.fit]] — `q_ann_ivf_trained`'s production path, equally
  * deterministic: fixed-point training is bit-identical in any
  * engine), and recall counts are exact integers, so the advice is
  * reproducible bit-for-bit under any partitioning. Without the
  * trained candidates the advisor could only pick among seed
  * quantizers while the repo's own recall analysis says trained cells
  * are the production floor — the decision procedure must be able to
  * choose the thing the analysis recommends.
  *
  * Cost/scale posture: ONE exact brute pass over (sample × corpus) —
  * the ground truth every candidate shares — then one probed search
  * per configuration; the driver collects |configs| count rows plus
  * the ≤ `sampleQueries`·k ground-truth pairs (localCheckpointed,
  * reused). The lsh_mp leg's corpus-proportional signing pass runs
  * ONCE per distinct `numBits` (at the widest table count requested
  * there), not once per (tables, probes) candidate — the pinned
  * [[LshAnn.bucketed]] frame serves the whole grid through the
  * table-prefix filter. Run it on a corpus SAMPLE in production; the
  * advice is a property of the data distribution, not the row count.
  */
object AnnAdvisor {

  /** One measured configuration; `quantizer` is "seed" ([[IvfAnn.fit]]),
    * "kmeans" (integer-Lloyd-trained cells), or "lsh_mp"
    * (random-hyperplane multi-probe, [[LshAnn.search]] — the HASH-probe
    * family measured beside the two CELL-probe families). For lsh_mp,
    * `nlist = 2^numBits` (buckets per table) and
    * `nprobe = numTables·(1 + multiProbe)` (probed buckets per query),
    * so `probedFraction = nprobe/nlist` is the expected fraction of
    * the corpus scanned as candidates per query under the
    * uniform-bucket expectation — the SAME unit as the IVF families'
    * `nprobe/nlist`, which is what makes cell-probe vs hash-probe one
    * sort instead of two incomparable reports. */
  final case class Measured(quantizer: String, nlist: Int, nprobe: Int,
      recall: Double, probedFraction: Double)

  /** The advice: the winning configuration plus the full measured
    * table (for SCALING.md-style reporting and for callers that want a
    * different trade). */
  final case class Advice(chosen: Option[Measured], table: Seq[Measured])

  /** @param recallFloor   minimum acceptable recall@k (0, 1]
    * @param nlists        candidate SEED cell counts (each ≤ corpus)
    * @param nprobes       candidate probe counts; per nlist only values
    *                      ≤ nlist are measured (shared by both families)
    * @param sampleQueries deterministic query-sample size
    * @param trainedNlists cell counts to ALSO measure with the
    *                      integer-Lloyd-trained quantizer (empty = seed
    *                      only, the pre-round-12 behavior)
    * @param trainedIters  Lloyd iterations for the trained candidates
    * @param lshConfigs    hash-probe candidates to ALSO measure: each
    *                      `(numBits, numTables, multiProbe)` is an
    *                      [[LshAnn.search]] configuration, reported as
    *                      quantizer = "lsh_mp" (see [[Measured]] for
    *                      the nlist/nprobe mapping that prices it in
    *                      the same probed-fraction unit as IVF) — the
    *                      first question a lake-scale deployment asks
    *                      is WHICH family meets the recall floor at
    *                      the smallest scanned fraction, and without
    *                      these rows the advisor could only rank cells
    *                      against cells
    */
  def advise(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      recallFloor: Double,
      nlists: Seq[Int] = Seq(8, 16, 32),
      nprobes: Seq[Int] = Seq(1, 2, 4, 8),
      sampleQueries: Int = 16,
      trainedNlists: Seq[Int] = Nil,
      trainedIters: Int = 3,
      lshConfigs: Seq[(Int, Int, Int)] = Nil): Advice = {
    require(k > 0 && sampleQueries > 0, "k > 0, sampleQueries > 0")
    require(recallFloor > 0 && recallFloor <= 1, "recallFloor in (0, 1]")
    require(nlists.nonEmpty && nprobes.nonEmpty, "need candidates")

    // the cosine kernels take array<double>; accept float embeddings.
    // Pinned EAGERLY: every candidate fit/search below re-references
    // this frame from its own job (quantizer fits are driver collects,
    // and the measured searches execute as one batched action), so
    // without the pin each of those ~10+ jobs re-runs the upstream
    // scan/cast/filter chain. One materialization, k reuses — the
    // KMeans.fit internal-pin pattern applied at the advisor level.
    // (Run the advisor on a corpus SAMPLE in production — the pinned
    // frame is sample-sized, not lake-sized.)
    val base = corpus.filter(col(vecCol).isNotNull)
      .withColumn(vecCol, col(vecCol).cast("array<double>"))
      .localCheckpoint(true)
    // deterministic, engine-portable sample, pinned so the per-config
    // searches reuse it instead of re-running the corpus orderBy-limit
    // (see Sampling.md5RankPinned)
    val queries = graft.sample.Sampling
      .md5RankPinned(base, idCol, sampleQueries)

    // ground truth computed ONCE (≤ sampleQueries·k rows), shared by
    // every configuration's intersection; its row count is the pin's
    val truth = Pin(CosineTopK(base, queries, idCol, vecCol, k = k)
      .select(col("query_id"), col("neighbor_id")))
    val exact = truth.df
    val possible = truth.rows
    // every pin is freed once the hits are counted: the advice is plain
    // values, no frame reads them
    val pins = scala.collection.mutable.ArrayBuffer(base, queries, exact)
    require(possible > 0, "empty ground truth — corpus too small for k")

    // Every candidate's hit count comes from ONE action: each search's
    // (query_id, neighbor_id) pairs are tagged with a leg-index literal,
    // unioned, joined ONCE against the pinned ground truth, and counted
    // with a single groupBy(leg) aggregate. Round 14 ran this as a union
    // of per-leg 1-row aggregates (one join + one agg subtree per
    // candidate) — one action, but the plan carried ~12 broadcast joins
    // and ~24 aggregates, and at 32 threads the driver-side
    // planning/broadcast bookkeeping dominated (measured 2.0 s
    // driver-gap, 59 jobs). Joining once and grouping by the literal is
    // the same arithmetic with one join and one aggregate in the plan
    // (duplicate configurations stay distinguishable through the index).
    val meta = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, Int, Int)] // (leg, quantizer, nlist, nprobe)
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def addLeg(quantizer: String, nlist: Int, np: Int,
        approx: DataFrame): Unit = {
      val i = meta.length
      meta += ((i, quantizer, nlist, np))
      parts += approx.select(lit(i).as("leg"),
        col("query_id"), col("neighbor_id"))
    }
    // a cell-probe model's whole nprobe sub-grid rides ONE corpus pass
    // ([[IvfAnn.searchMulti]]: probes() is prefix-stable, so the max-np
    // candidate set restricted to probe rank < np IS search(np) — round
    // 14 paid one corpus cell-assignment pass per (model, np) leg); the
    // nprobe column maps back to leg indexes with a when-chain (an array
    // per np value, exploded, so duplicate requested nprobes still get
    // their own leg rows)
    def addGrid(quantizer: String, nlist: Int, nps: Seq[Int],
        model: IvfAnn.Model): Unit = if (nps.nonEmpty) {
      val npLegs = nps.map { np =>
        val i = meta.length
        meta += ((i, quantizer, nlist, np))
        np -> i
      }
      val multi = IvfAnn.searchMulti(base, queries, idCol, vecCol,
        k = k, model, nprobes = nps)
      val legsOf = npLegs.groupBy(_._1).map { case (np, xs) =>
        np -> xs.map(_._2)
      }
      val legArr = legsOf.toSeq.sortBy(_._1).map { case (np, ls) =>
        (np, array(ls.map(l => lit(l)): _*))
      }.foldLeft(lit(null).cast("array<int>")) { case (acc, (np, arr)) =>
        when(col("nprobe") === np, arr).otherwise(acc)
      }
      parts += multi.select(explode(legArr).as("leg"),
        col("query_id"), col("neighbor_id"))
    }
    nlists.sorted.foreach { nlist =>
      addGrid("seed", nlist, nprobes.sorted.filter(_ <= nlist),
        IvfAnn.fit(base, idCol, vecCol, nlist = nlist))
    }
    trainedNlists.sorted.foreach { nlist =>
      // integer Lloyd (bit-replayable; cosine is scale-invariant so the
      // fixed-point centroids feed the cosine quantizer directly — the
      // q_ann_ivf_trained spelling)
      val (km, assigned) =
        KMeans.fit(base, idCol, vecCol, k = nlist, iters = trainedIters)
      pins += assigned
      addGrid("kmeans", nlist, nprobes.sorted.filter(_ <= nlist),
        IvfAnn.Model(km.centroids.map(_.map(_.toDouble))))
    }
    // the corpus is signed ONCE per bit width, at the widest table
    // count any candidate at that width asks for, and every (tables,
    // probes) candidate reuses the pinned frame through the tbl < T
    // prefix filter (LshAnn.bucketed's contract) — a grid of 4–6 lsh
    // candidates used to pay 4–6 corpus-proportional signing passes
    // (measured 1.8× at sf1 with ONE candidate; SCALING.md), now one
    // per distinct numBits
    lshConfigs.foreach { case (bits, tables, mp) =>
      require(bits >= 1 && bits <= 30 && tables >= 1 && mp >= 0,
        s"bad lsh shape numBits=$bits numTables=$tables multiProbe=$mp")
    }
    lshConfigs.groupBy(_._1).toSeq.sortBy(_._1).foreach {
      case (bits, configs) =>
        def legLsh(search: (Int, Int) => DataFrame): Unit =
          configs.foreach { case (_, tables, mp) =>
            addLeg("lsh_mp", 1 << bits, tables * (1 + mp),
              search(tables, mp))
          }
        if (configs.size == 1)
          // nothing to amortize: the eager checkpoint would be a pure
          // extra materialization of the signature frame (measured
          // +~20% on the single-candidate driver query) — keep the
          // fused lazy path
          legLsh((tables, mp) => LshAnn.search(base, queries, idCol,
            vecCol, k = k, numBits = bits, numTables = tables,
            multiProbe = mp))
        else {
          val maxTables = configs.map(_._2).max
          val csig = LshAnn.bucketed(base, idCol, vecCol,
            numBits = bits, numTables = maxTables).localCheckpoint(true)
          pins += csig
          legLsh((tables, mp) => LshAnn.searchBucketed(csig, queries,
            idCol, vecCol, k = k, numBits = bits, numTables = tables,
            multiProbe = mp))
        }
    }
    // one action for the whole grid: the unioned tagged pair stream is
    // ≤ |legs|·sampleQueries·k rows, the truth side broadcasts once
    val hitsByLeg: Map[Int, Long] = parts
      .reduce(_ unionByName _)
      .join(exact, Seq("query_id", "neighbor_id"))
      .groupBy(col("leg"))
      .agg(count(lit(1)).as("hits"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    pins.foreach(Pin.free)
    val table = meta.toSeq.map { case (i, quantizer, nlist, np) =>
      Measured(quantizer, nlist, np,
        hitsByLeg.getOrElse(i, 0L).toDouble / possible,
        np.toDouble / nlist)
    }
    // choice rule unchanged: cheapest probed fraction meeting the
    // floor, ties to larger nlist then higher recall; exact ties
    // across families resolve alphabetically ("kmeans" < "lsh_mp" <
    // "seed" — the trained cell quantizer, the production floor, wins
    // a dead heat)
    val chosen = table.filter(_.recall >= recallFloor)
      .sortBy(m => (m.probedFraction, -m.nlist, -m.recall, m.quantizer))
      .headOption
    Advice(chosen, table)
  }
}
