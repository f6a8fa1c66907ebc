package graft.dedup

import graft.text.Shingles
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact deduplication: one surviving row per distinct key, canonical =
  * smallest `idCol`. A single hash aggregation (partial map-side combine,
  * one shuffle on the key); at 100 TB the key should be a digest — pass
  * `hashKey = true` to group on `xxhash64` + length instead of the raw
  * payload so shuffle rows stay small (hash collisions at 64 bit are
  * negligible at trillions of rows, and can be re-verified downstream).
  */
object ExactDedup {

  /** @return one row per distinct `keyCols` value: the key columns,
    *         `canonical_id` (min id), `dup_count` (rows collapsed).
    */
  def apply(
      df: DataFrame,
      keyCols: Seq[String],
      idCol: String,
      hashKey: Boolean = false): DataFrame = {
    val keys: Seq[Column] =
      if (hashKey)
        Seq(xxhash64(keyCols.map(col): _*).as("key_hash"),
          keyCols.map(c => length(col(c))).reduce(_ + _).as("key_len"))
      else keyCols.map(col)
    df.groupBy(keys: _*)
      .agg(min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("dup_count"))
  }

  /** Keep-one projection: the input rows whose id is canonical for their
    * key (survivors of exact dedup), dropping all duplicates.
    */
  def survivors(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(idCol).asc)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** Incremental dedup: the rows of `batch` whose key does not already
    * exist in `corpus` — batch N deduped against batches 1..N−1 without
    * re-deduping the corpus (the daily-ingest shape). Within-batch
    * duplicates also collapse to their canonical row, so appending the
    * result keeps the corpus exactly-once.
    *
    * One anti-join on the key (hash digests via `hashKey = true` keep
    * shuffle rows small at corpus scale; with `hashKey = false` the raw
    * key columns join null-safely) plus the within-batch keep-one window.
    *
    * The hashed key is `xxhash64` PLUS total key length — the same
    * widened convention as [[apply]]. A bare 64-bit digest collides with
    * ~2^32 corpus keys (birthday bound), exactly the scale this mode
    * targets, and an anti-join collision silently DROPS a genuinely new
    * row; the independent length dimension pushes the effective width
    * far past the corpus sizes where that matters.
    */
  def incremental(batch: DataFrame, corpus: DataFrame, keyCols: Seq[String],
                  idCol: String, hashKey: Boolean = false): DataFrame = {
    val fresh =
      if (hashKey) {
        val keyLen = keyCols.map(c => length(col(c))).reduce(_ + _)
        val bk = batch
          .withColumn("__graft_kh", xxhash64(keyCols.map(col): _*))
          .withColumn("__graft_kl", keyLen)
        val ck = corpus.select(
            xxhash64(keyCols.map(col): _*).as("__graft_kh"),
            keyLen.as("__graft_kl"))
          .distinct()
        bk.join(ck, Seq("__graft_kh", "__graft_kl"), "left_anti")
          .drop("__graft_kh", "__graft_kl")
      } else {
        val ck = corpus
          .select(keyCols.map(c => col(c).as(s"__graft_ck_$c")): _*).distinct()
        batch.join(ck,
          keyCols.map(c => col(c) <=> col(s"__graft_ck_$c")).reduce(_ && _),
          "left_anti")
      }
    survivors(fresh, keyCols, idCol)
  }
}

/** MinHash + banded LSH near-duplicate detection over a text column.
  *
  * Pipeline (all built-in expressions until the candidate join):
  *   shingle (word n-grams) → k minhashes (`min(xxhash64(seed_i, s))`)
  *   → b bands of r = k/b rows, each hashed → explode to (band, bucket)
  *   → self-equi-join on (band, bucket) with `idL < idR` → distinct pairs
  *   → verify true Jaccard on the shingle sets → threshold filter.
  *
  * Scale notes: the only shuffle keys are the LSH buckets; mega-buckets
  * (boilerplate shingle sets) are the classic skew source — AQE skew-join
  * splits them, and `maxBucket` drops degenerate buckets outright (a
  * bucket with m rows generates m²/2 candidates; a bucket of 100k
  * identical docs is better handled by [[ExactDedup]] first). Verification
  * re-joins the (small) pair list to the shingles — broadcast when small.
  */
object MinHashDedup {

  /** Shingle-hash a corpus: `(id, h0)` where `h0` is the distinct rolling
    * n-gram hash set. Shingle strings are hashed ONCE; the k minhash
    * permutations re-hash those fixed-width longs (`xxhash64(i, h)`,
    * 16 bytes) instead of re-hashing variable-length strings k times —
    * ~2× cheaper, and no ANSI overflow concerns (multiplicative universal
    * hashing would overflow-error under Spark 4's default ANSI mode).
    * Docs with no shingles drop out (nothing to compare).
    */
  private[graft] def hashedShingles(df: DataFrame, textCol: String, idCol: String,
                             shingleN: Int): DataFrame =
    df.select(col(idCol).as("id"), Shingles.tokens(col(textCol)).as("tk"))
      .withColumn("th", transform(col("tk"), t => xxhash64(t)))
      .select(col("id"), array_distinct(
        org.apache.spark.sql.graft.VecFunctions.gram_hash(col("th"), shingleN))
        .as("h0"))
      .filter(size(col("h0")) > 0)

  /** `(id, band, bucket)` — all k minhashes + band bucketing in ONE
    * native codegen'd loop (see org.apache.spark.sql.graft.MinHashBands).
    */
  private[graft] def bandBuckets(shingled: DataFrame, numBands: Int, r: Int): DataFrame =
    shingled
      .select(col("id"),
        posexplode(org.apache.spark.sql.graft.VecFunctions
          .minhash_bands(col("h0"), numBands, r)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")

  /** @param numHashes   k — minhash signature length
    * @param numBands    b — LSH bands (r = k/b); pair collision probability
    *                    is 1−(1−J^r)^b
    * @param shingleN    word n-gram size
    * @param threshold   true-Jaccard acceptance threshold for candidates
    * @param maxBucket   drop LSH buckets with more members (skew guard,
    *                    enforced count-first — see [[Buckets.boundedPairs]];
    *                    [[droppedBuckets]] reports what it refused)
    * @param pairing     "all" (every in-bucket pair, exact pair list),
    *                    "anchor" (member↔bucket-min only, O(m) per bucket
    *                    — feed the result to transitive closure), or
    *                    "anchor2" (two anchors, robust to one
    *                    false-positive anchor per bucket — see
    *                    [[Buckets.anchorPairsFromGroups]])
    * @param observeDropped when set, attach an `observe` metric of this
    *                    name counting refused buckets to the plan — the
    *                    recall audit as a FREE byproduct of every run
    *                    (read it from the consuming query's
    *                    `queryExecution.observedMetrics`)
    *                    instead of a separate [[droppedBuckets]] pass
    * @return pairs `(id_l, id_r, jaccard)` with `id_l < id_r`
    */
  def apply(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 32,
      numBands: Int = 8,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      maxBucket: Int = 1000,
      pairing: String = "all",
      observeDropped: Option[String] = None): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val r = numHashes / numBands

    // the eager localCheckpoint is the barrier that keeps `h0`
    // materialized (HOF lambdas are interpreted, with no CSE); reused by
    // banding and verification. localCheckpoint, not cache: checkpoint
    // blocks are freed by the ContextCleaner once the frame is
    // unreachable, where a CacheManager entry pins storage until an
    // explicit unpersist — repeated operator calls in a long-lived
    // session must not accumulate dead cached frames (SCALING.md
    // "operator pinning" convention)
    val shingled = hashedShingles(df, textCol, idCol, shingleN)
      .localCheckpoint(true)
    val exploded = bandBuckets(shingled, numBands, r)

    // Candidate pairs per bucket, skew-guarded COUNT-FIRST: bucket sizes
    // are counted before any member array is built, so a degenerate
    // bucket (100k identical boilerplate docs — handle those with
    // ExactDedup first) never materializes in a single aggregation
    // buffer. A bucket of m rows emits m(m-1)/2 pairs ("all") or m-1
    // ("anchor").
    val pairs = Buckets.boundedPairs(exploded, Seq("band", "bucket"), "id",
      maxBucket, pairing, observeDropped)

    // verification re-attaches the (cached) hashed shingles; Jaccard via
    // the codegen'd sorted-merge intersection
    val hs = shingled.select(col("id"), sort_array(col("h0")).as("hs"))
    val verified = pairs
      .join(hs.select(col("id").as("id_l"), col("hs").as("hs_l")), Seq("id_l"))
      .join(hs.select(col("id").as("id_r"), col("hs").as("hs_r")), Seq("id_r"))
    Buckets.hashedJaccard(verified, "hs_l", "hs_r", "jaccard")
      .filter(col("jaccard") >= threshold)
      .select(col("id_l"), col("id_r"), col("jaccard"))
  }

  /** The LSH buckets [[apply]] would refuse at this `maxBucket` —
    * `(band, bucket, members)`. Run (or log) alongside a production
    * dedup so dropped recall is a surfaced number, not a silent hole.
    */
  def droppedBuckets(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 32,
      numBands: Int = 8,
      shingleN: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val exploded = bandBuckets(
      hashedShingles(df, textCol, idCol, shingleN), numBands, numHashes / numBands)
    Buckets.hotKeys(exploded, Seq("band", "bucket"), maxBucket)
  }

  /** Incremental near-dup: each `batch` document's corpus near-duplicates
    * (true Jaccard ≥ `threshold`), WITHOUT generating any corpus-internal
    * pairs — the daily-ingest shape, where the corpus is already deduped
    * and only batch-vs-corpus (and within-batch, via [[apply]] on the
    * batch alone) matches matter.
    *
    * Scale posture: the corpus side is banded once (at lake scale the
    * `(id, band, bucket)` signatures would be persisted and reused across
    * batches — the banding is deterministic in the text, so append-only);
    * candidates come from an equi-join of batch buckets against corpus
    * buckets — the batch side is typically orders of magnitude smaller
    * and broadcasts under AQE sizing, so the corpus is never shuffled.
    * The m²-bucket blowup of the self-join shape cannot happen here
    * (candidates are batch-rows × bucket-mates), but a degenerate corpus
    * bucket still floods: buckets with more than `maxBucket` corpus
    * members are dropped, same contract as [[apply]].
    *
    * @return `(id_b, id_c, jaccard)` — one row per (batch doc, matching
    *         corpus doc); batch docs with no match emit nothing.
    */
  def incremental(
      batch: DataFrame,
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 32,
      numBands: Int = 8,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val r = numHashes / numBands

    // eager localCheckpoint, not cache — see [[apply]]'s barrier note
    val bSh = hashedShingles(batch, textCol, idCol, shingleN)
      .localCheckpoint(true)
    val cSh = hashedShingles(corpus, textCol, idCol, shingleN)
      .localCheckpoint(true)
    val bEx = bandBuckets(bSh, numBands, r)
      .select(col("id").as("id_b"), col("band"), col("bucket"))
    val cEx = bandBuckets(cSh, numBands, r)
      .select(col("id").as("id_c"), col("band"), col("bucket"))

    // skew guard on the corpus buckets (the only unbounded side)
    val cBounded =
      if (maxBucket == Int.MaxValue) cEx
      else {
        val big = cEx.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("__graft_n"))
          .filter(col("__graft_n") > maxBucket)
          .select(col("band"), col("bucket"))
        cEx.join(big, Seq("band", "bucket"), "left_anti")
      }

    val pairs = bEx.join(cBounded, Seq("band", "bucket"))
      .select(col("id_b"), col("id_c"))
      .distinct()

    val verified = pairs
      .join(bSh.select(col("id").as("id_b"), sort_array(col("h0")).as("hs_b")),
        Seq("id_b"))
      .join(cSh.select(col("id").as("id_c"), sort_array(col("h0")).as("hs_c")),
        Seq("id_c"))
    Buckets.hashedJaccard(verified, "hs_b", "hs_c", "jaccard")
      .filter(col("jaccard") >= threshold)
      .select(col("id_b"), col("id_c"), col("jaccard"))
  }
}

/** Shared bucket-based candidate-pair generation for the LSH dedup
  * operators: group by bucket key, emit all in-bucket pairs by a nested
  * transform over the collected id list. One aggregation instead of an
  * exploded self-join — halves the signature computation and drops the
  * separate skew-guard window.
  */
object Buckets {

  /** Bucket keys of `exploded` (one row per member) with more than
    * `maxBucket` members — the buckets [[boundedPairs]] refuses.
    * Exposed so callers can SURFACE what a skew guard dropped (count
    * it, log it, route it to [[ExactDedup]]) instead of silently
    * losing recall.
    */
  def hotKeys(exploded: DataFrame, keyCols: Seq[String], maxBucket: Int): DataFrame =
    exploded.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("members"))
      .filter(col("members") > maxBucket)

  /** Candidate pairs from a `(keyCols…, idCol)` membership stream with
    * the skew guard applied BEFORE any per-bucket materialization. The
    * naive order — `collect_list` first, size-filter after — builds a
    * degenerate bucket's full member array inside one aggregation
    * buffer row before dropping it, which is exactly the single-task
    * OOM a 10M-member boilerplate bucket causes at corpus scale.
    *
    * Long ids (every graft dedup op) take the ONE-PASS bounded path:
    * `min_k_longs(id, maxBucket+1)` collects at most maxBucket+1 ids
    * per bucket — ids are distinct within a bucket, so an over-cap
    * bucket surfaces as exactly maxBucket+1 collected ids and is
    * filtered whole, while its aggregation state never exceeds
    * maxBucket+1 longs on any task (TypedImperativeAggregate with
    * map-side combine). Other id types fall back to a count-first
    * pass: bucket sizes pre-counted (hash agg, bounded state), hot
    * keys anti-joined away, THEN `collect_list` — one extra pass over
    * the (cached upstream) membership stream.
    *
    * @param pairing "all" = every in-bucket pair, m(m−1)/2 per bucket
    *                (exact candidate semantics); "anchor" = each member
    *                paired with the bucket minimum only, m−1 per bucket
    *                — O(m), the scale shape for dup-heavy corpora where
    *                transitive closure over anchor pairs recovers the
    *                cliques (Lee et al.-style dedup pipelines);
    *                "anchor2" = pairs against the two smallest ids,
    *                2m−3 per bucket — survives one false-positive
    *                anchor per bucket (see [[anchorPairsFromGroups]]).
    *
    * CONTRACT (long-id fast path): membership rows must be DISTINCT per
    * `(keyCols…, idCol)` — `min_k_longs` keeps the k smallest DISTINCT
    * ids, so duplicated membership rows would make the min-k path judge
    * a bucket's size by distinct count while the count-first fallback
    * judges it by raw count. Every graft caller emits one row per id
    * per band/block (explode of per-row band structs), which satisfies
    * this; a new caller that can repeat `(key, id)` rows must
    * `.distinct()` its stream first.
    */
  def boundedPairs(exploded: DataFrame, keyCols: Seq[String], idCol: String,
                   maxBucket: Int, pairing: String = "all",
                   observeDropped: Option[String] = None): DataFrame = {
    require(maxBucket >= 1, "maxBucket >= 1")
    require(pairing == "all" || pairing == "anchor" || pairing == "anchor2",
      s"pairing=$pairing (expected all | anchor | anchor2)")
    val longIds = exploded.schema(idCol).dataType ==
      org.apache.spark.sql.types.LongType
    // the dropped-bucket observe only exists on the long-id min-k path
    // (the count-first fallback anti-joins refused keys away BEFORE
    // grouping, so there is no row left to count them on); accepting the
    // metric name there would bind it to nothing and the caller would
    // read "zero dropped buckets" while buckets were refused upstream
    require(observeDropped.isEmpty || (longIds && maxBucket < Int.MaxValue),
      s"observeDropped is only supported for LONG ids with a finite " +
        s"maxBucket (got idCol=$idCol: " +
        s"${exploded.schema(idCol).dataType.simpleString}, " +
        s"maxBucket=$maxBucket); audit the count-first path with " +
        "Buckets.hotKeys instead")
    val grouped0 =
      if (longIds && maxBucket < Int.MaxValue)
        exploded.groupBy(keyCols.map(col): _*)
          .agg(org.apache.spark.sql.graft.SketchFunctions
            .min_k_longs(col(idCol), maxBucket + 1).as("__graft_bids"))
      else {
        val bounded =
          if (maxBucket == Int.MaxValue) exploded
          else exploded.join(
            hotKeys(exploded, keyCols, maxBucket).select(keyCols.map(col): _*),
            keyCols, "left_anti")
        bounded.groupBy(keyCols.map(col): _*)
          .agg(collect_list(col(idCol)).as("__graft_bids"))
      }
    // free recall audit: on the long-id path a refused bucket is exactly
    // one whose bounded collection hit maxBucket+1, so counting them is
    // an `observe` on rows already flowing through the plan — every run
    // of the consuming query reports its silent-recall loss as a metric
    // (the consuming query's `queryExecution.observedMetrics` holds it).
    // On the count-first fallback the refused keys never reach `grouped`,
    // so the audit stays with [[hotKeys]].
    val grouped = observeDropped match {
      case Some(name) if longIds && maxBucket < Int.MaxValue =>
        grouped0.observe(name,
          sum(when(size(col("__graft_bids")) > maxBucket, 1L).otherwise(0L))
            .as("dropped_buckets"))
      case _ => grouped0
    }
    pairing match {
      case "all"    => pairsFromGroups(grouped, "__graft_bids", maxBucket)
      case "anchor" => anchorPairsFromGroups(grouped, "__graft_bids", maxBucket)
      case _        => anchor2PairsFromGroups(grouped, "__graft_bids", maxBucket)
    }
  }

  /** `grouped` must have an array column `idsCol`; emits distinct
    * `(id_l, id_r)` pairs (`id_l < id_r`) from every group of size in
    * `[2, maxBucket]`. Prefer [[boundedPairs]], which enforces
    * `maxBucket` before the group arrays are built.
    */
  def pairsFromGroups(grouped: DataFrame, idsCol: String, maxBucket: Int): DataFrame = {
    val ids = col("__graft_ids")
    grouped
      .withColumn("__graft_ids", array_sort(col(idsCol)))
      .filter(size(ids) >= 2 && size(ids) <= maxBucket)
      .select(explode(flatten(transform(
        sequence(lit(0), size(ids) - 2),
        i => transform(
          sequence(i + 1, size(ids) - 1),
          j => struct(element_at(ids, i + 1).as("id_l"),
            element_at(ids, j + 1).as("id_r")))))).as("p"))
      .select(col("p.id_l").as("id_l"), col("p.id_r").as("id_r"))
      .distinct()
  }

  /** Anchor pairing: `(bucket_min, member)` for every non-minimal
    * member — m−1 pairs per bucket instead of m(m−1)/2. The pair LIST
    * is a subset of [[pairsFromGroups]]'s, but its transitive closure
    * over all buckets equals the closure of the full pair set whenever
    * in-bucket members are mutually matching (the dup-heavy regime the
    * mode exists for); verification then runs on O(m) pairs per bucket.
    *
    * CAVEAT — false-positive anchors: when the minimum-id member of a
    * bucket is an LSH collision (NOT a true near-dup of the others),
    * downstream Jaccard/Hamming verification rejects every anchor pair
    * of that bucket, and a genuine dup pair among the remaining members
    * is disconnected — the closure-equality contract only holds in the
    * mutually-matching regime. Mitigations: the same pair usually
    * reappears in another band's bucket with a different minimum (LSH
    * gives each true pair b independent chances), and [[anchor2PairsFromGroups]]
    * ("anchor2") pairs against the TWO smallest ids, surviving one
    * false-positive anchor per bucket at still-O(m) cost.
    */
  def anchorPairsFromGroups(grouped: DataFrame, idsCol: String, maxBucket: Int): DataFrame = {
    val ids = col("__graft_ids")
    grouped
      .withColumn("__graft_ids", array_sort(col(idsCol)))
      .filter(size(ids) >= 2 && size(ids) <= maxBucket)
      .select(element_at(ids, 1).as("id_l"),
        explode(slice(ids, lit(2), size(ids) - 1)).as("id_r"))
      .distinct()
  }

  /** Two-anchor pairing: `(min1, min2)` plus `(min1, m)` and `(min2, m)`
    * for every other member — `2m−3` pairs per bucket, still O(m). Buys
    * robustness to ONE false-positive anchor per bucket: if `min1` is an
    * LSH collision that verification rejects, the `min2` pairs still
    * connect the true dups (see the [[anchorPairsFromGroups]] caveat).
    */
  def anchor2PairsFromGroups(grouped: DataFrame, idsCol: String, maxBucket: Int): DataFrame = {
    val ids = col("__graft_ids")
    grouped
      .withColumn("__graft_ids", array_sort(col(idsCol)))
      .filter(size(ids) >= 2 && size(ids) <= maxBucket)
      .select(explode(concat(
        array(struct(element_at(ids, 1).as("id_l"),
          element_at(ids, 2).as("id_r"))),
        flatten(transform(slice(ids, lit(3), size(ids) - 2), m =>
          array(struct(element_at(ids, 1).as("id_l"), m.as("id_r")),
            struct(element_at(ids, 2).as("id_l"), m.as("id_r"))))))).as("p"))
      .select(col("p.id_l"), col("p.id_r"))
      .distinct()
  }

  /** Jaccard from two sorted hashed-shingle arrays via the codegen'd
    * merge-scan intersection (collision probability at 64 bits is
    * negligible).
    */
  def hashedJaccard(df: DataFrame, aCol: String, bCol: String, outCol: String): DataFrame = {
    val inter = col("__graft_inter")
    val union = size(col(aCol)) + size(col(bCol)) - inter
    df.withColumn("__graft_inter",
        org.apache.spark.sql.graft.VecFunctions
          .sorted_long_intersect_count(col(aCol), col(bCol)))
      .withColumn(outCol,
        when(union === 0, lit(1.0)).otherwise(inter.cast("double") / union))
      .drop("__graft_inter")
  }
}

/** SimHash near-duplicate detection: 64-bit fingerprint = sign-aggregated
  * token hash bits; near-dups = fingerprints within `maxHamming` bits,
  * found by the pigeonhole block trick (split 64 bits into
  * `maxHamming + 1` blocks; any pair within distance shares ≥ 1 exact
  * block → equi-join per block, verify true Hamming distance).
  */
object SimHashDedup {

  // the Scala `shiftright`/`shiftleft` wrappers only take literal shift
  // amounts; the SQL functions accept a column
  private def shr(c: Column, n: Column): Column = call_function("shiftright", c, n)
  private def shru(c: Column, n: Column): Column = call_function("shiftrightunsigned", c, n)
  private def shl(c: Column, n: Column): Column = call_function("shiftleft", c, n)

  /** Per-bit vote counts from a token-HASH array column: one pass over the
    * hashes, accumulating a 64-int vote vector (bit j set in a hash ⇒ +1,
    * else −1). Higher-order functions are interpreted (not codegen'd) and
    * interpreted eval has no common-subexpression elimination, so this is
    * deliberately a SINGLE aggregate over a pre-materialized hash column —
    * never re-derive the hashes or votes inside another lambda.
    */
  private[dedup] def bitVotes(tokenHashes: Column): Column =
    aggregate(
      tokenHashes,
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)),
        (a, j) => a + when(shr(h, j).bitwiseAND(1) === 1, 1).otherwise(-1)))

  /** Fold a 64-int vote vector into the 64-bit simhash. References the
    * `votes` expression exactly ONCE (a multiply-referenced subexpression
    * is re-evaluated per reference under interpreted HOF eval — a 64×
    * blowup when `votes` is itself an aggregate).
    */
  private[dedup] def votesToBits(votes: Column): Column =
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, j) => when(v > 0, shl(lit(1L), j)).otherwise(lit(0L))),
      lit(0L),
      (acc, x) => acc + x)

  /** 64-bit simhash of a token-array column: bit j of the result is 1 iff
    * Σ_tokens sign(bit j of xxhash64(token)) > 0. Prefer the staged
    * [[apply]] pipeline at scale — this single-expression form re-derives
    * the token hashes inside the vote pass.
    */
  def simhash(tokens: Column): Column =
    votesToBits(bitVotes(transform(tokens, t => xxhash64(t))))

  /** 64-bit simhash of a TEXT column through the native codegen'd
    * vote/fold expression — the per-row production form (stateless, so
    * it runs unchanged in streaming plans; see
    * [[graft.streaming.StreamingOps.streamingSimHashDedup]]).
    */
  def fingerprint(text: Column,
                  tokenHash: Column => Column = (t: Column) => xxhash64(t)): Column =
    org.apache.spark.sql.graft.VecFunctions.simhash64(
      transform(Shingles.tokens(text), tokenHash))

  private def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** `(id, sh64)` fingerprints: tokens → hashes → one native codegen'd
    * 64×n vote/fold loop (org.apache.spark.sql.graft.SimHash64).
    */
  private def fingerprints(df: DataFrame, textCol: String, idCol: String,
                           tokenHash: Column => Column): DataFrame =
    df.select(col(idCol).as("id"),
        transform(Shingles.tokens(col(textCol)), tokenHash).as("th"))
      .select(col("id"),
        org.apache.spark.sql.graft.VecFunctions.simhash64(col("th")).as("sh64"))

  /** Pigeonhole block memberships `(id, blk, key)` of a fingerprint
    * frame — the blocking stream [[apply]] pairs up and
    * [[droppedBlocks]] audits. `fpBits` is the fingerprint's REAL
    * width: blocks partition the low `fpBits` bits, so a narrow
    * fingerprint (a 16-bit media pHash) still spreads its bits over
    * all `maxHamming + 1` blocks instead of wasting blocks on the
    * shared-zero high bits (which would put the whole corpus in one
    * bucket).
    */
  private[graft] def blockStream(fp: DataFrame, maxHamming: Int,
      fpBits: Int = 64): DataFrame = {
    val blocks = maxHamming + 1
    val bits = fpBits / blocks
    // pigeonhole: explode each fingerprint into its blocks
    val blockCol = explode(
      transform(sequence(lit(0), lit(blocks - 1)), b =>
        struct(b.as("blk"),
          // block b = bits [b*bits, (b+1)*bits); last block takes the rest
          when(b === blocks - 1, shru(col("sh64"), b * bits))
            .otherwise(shru(col("sh64"), b * bits)
              .bitwiseAND((1L << bits) - 1)).as("key"))))
    fp.select(col("id"), blockCol.as("bb"))
      .select(col("id"), col("bb.blk").as("blk"), col("bb.key").as("key"))
  }

  /** Pigeonhole near-dup over PRECOMPUTED fingerprints — the pHash
    * path: any caller that derives a bit-fingerprint per row (media
    * luminance grids via [[graft.multimodal.Media.extractLumGrid]],
    * external signatures) gets the same block-join + exact-Hamming
    * verify [[apply]] runs on text simhashes. `fpBits` = the
    * fingerprint width (≤ 64); two fingerprints within `maxHamming`
    * bits share at least one of the `maxHamming + 1` blocks, so the
    * candidate join is exact-recall by pigeonhole, never a cartesian.
    *
    * @return pairs `(id_l, id_r, hamming)` with `id_l < id_r` and
    *         Hamming distance ≤ `maxHamming`.
    */
  def fromFingerprints(
      df: DataFrame,
      fpCol: String,
      idCol: String,
      maxHamming: Int = 3,
      fpBits: Int = 64,
      maxBucket: Int = 1000,
      pairing: String = "all"): DataFrame = {
    require(fpBits >= maxHamming + 1 && fpBits <= 64,
      s"fpBits=$fpBits must be in [maxHamming + 1, 64]")
    // eager localCheckpoint, not cache — see MinHashDedup.apply's note
    val cached = df.select(col(idCol).as("id"), col(fpCol).as("sh64"))
      .localCheckpoint(true)
    pairsOfFingerprints(cached, maxHamming, fpBits, maxBucket, pairing)
  }

  /** Shared tail of [[apply]] / [[fromFingerprints]]: block, pair
    * (count-first bounded), verify exact Hamming. */
  private def pairsOfFingerprints(cached: DataFrame, maxHamming: Int,
      fpBits: Int, maxBucket: Int, pairing: String): DataFrame = {
    val exploded = blockStream(cached, maxHamming, fpBits)
    val pairs = Buckets.boundedPairs(exploded, Seq("blk", "key"), "id",
      maxBucket, pairing)
    pairs
      .join(cached.select(col("id").as("id_l"), col("sh64").as("h_l")), Seq("id_l"))
      .join(cached.select(col("id").as("id_r"), col("sh64").as("h_r")), Seq("id_r"))
      .select(col("id_l"), col("id_r"), hamming(col("h_l"), col("h_r")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** RECALL NOTE — `maxBucket` defaults to 1000, NOT unbounded (changed
    * from `Int.MaxValue`): a pigeonhole block with more members is
    * refused WHOLE, so a dup-heavy corpus (>1000 docs sharing a block —
    * boilerplate mass that belongs to [[ExactDedup]] first) silently
    * loses those pairs unless the caller audits [[droppedBlocks]] or
    * raises the cap explicitly. The default trades that surfaced,
    * auditable recall loss for a hard ceiling on per-bucket state — the
    * 100 TB posture; pass `maxBucket = Int.MaxValue` to opt back into
    * unbounded buckets.
    *
    * @param maxBucket drop pigeonhole blocks with more members (skew
    *                  guard, count-first — a hot block otherwise emits
    *                  m(m−1)/2 candidates with no ceiling; blocks past
    *                  the cap are boilerplate-duplicate mass for
    *                  [[ExactDedup]], and [[droppedBlocks]] surfaces
    *                  them)
    * @param pairing   "all", "anchor" or "anchor2" (see
    *                  [[Buckets.boundedPairs]])
    * @param tokenHash token → 64-bit hash column; default `xxhash64`.
    *                  Swappable so a differential oracle can use a hash
    *                  both engines implement identically (e.g. an
    *                  md5-prefix hash — md5 is bit-identical everywhere,
    *                  xxhash64's seed-42 variant is Spark-specific).
    * @return pairs `(id_l, id_r, hamming)` with `id_l < id_r` and
    *         Hamming distance ≤ `maxHamming`.
    */
  def apply(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      tokenHash: Column => Column = (t: Column) => xxhash64(t),
      maxBucket: Int = 1000,
      pairing: String = "all"): DataFrame = {
    // fingerprints reused by blocking + verify; eager localCheckpoint,
    // not cache — see MinHashDedup.apply's note
    val cached = fingerprints(df, textCol, idCol, tokenHash)
      .localCheckpoint(true)
    pairsOfFingerprints(cached, maxHamming, fpBits = 64, maxBucket, pairing)
  }

  /** The pigeonhole blocks [[apply]] would refuse at this `maxBucket` —
    * `(blk, key, members)`. The dropped-recall audit.
    */
  def droppedBlocks(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      tokenHash: Column => Column = (t: Column) => xxhash64(t),
      maxBucket: Int = 1000): DataFrame =
    Buckets.hotKeys(
      blockStream(fingerprints(df, textCol, idCol, tokenHash), maxHamming),
      Seq("blk", "key"), maxBucket)
}

/** Exact n-gram (or token-set) Jaccard near-dup join with equality
  * blocking — the brute-force baseline the LSH variants approximate.
  * Quadratic within a block; use only with a selective `blockBy` (e.g.
  * language, length bucket) or at verification scale.
  *
  * `blockBy = Nil` means a full cartesian self-join, so it FAILS LOUDLY
  * unless the caller opts in with `allowCartesian = true` — the
  * verification-kernel escape hatch for inputs known to be small.
  */
object NgramJaccardDedup {

  def apply(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 1,
      threshold: Double = 0.5,
      blockBy: Seq[String] = Nil,
      allowCartesian: Boolean = false): DataFrame = {
    require(blockBy.nonEmpty || allowCartesian,
      "NgramJaccardDedup with blockBy = Nil is a full cartesian " +
        "self-join (quadratic); pass blockBy (language, length bucket) " +
        "or explicitly opt in with allowCartesian = true for small inputs")
    // tokens → token hashes → native rolling n-gram hashes → sorted
    // distinct hash sets: the pairwise Jaccard runs on the codegen'd
    // sorted-merge intersection; no string gram construction
    val base0 = df.select(
      (col(idCol).as("id") +:
        Shingles.tokens(col(textCol)).as("tk") +: blockBy.map(col)): _*)
      .withColumn("th", transform(col("tk"), t => xxhash64(t)))
    val hsExpr =
      if (n == 1) col("th")
      else org.apache.spark.sql.graft.VecFunctions.gram_hash(col("th"), n)
    val base = base0
      .withColumn("hs", sort_array(array_distinct(hsExpr)))
      .withColumn("sz", size(col("hs")))
      .drop("tk", "th")
    val l = base.select(
      (col("id").as("id_l") +: col("hs").as("sh_l") +:
        col("sz").as("sz_l") +: blockBy.map(col)): _*)
    val r = base.select(
      (col("id").as("id_r") +: col("hs").as("sh_r") +:
        col("sz").as("sz_r") +: blockBy.map(col)): _*)
    // size prefilter (necessary condition, evaluated before the heavy
    // set intersection): J(a,b) <= min/max of the set sizes
    val sizeOk =
      least(col("sz_l"), col("sz_r")).cast("double") >=
        greatest(col("sz_l"), col("sz_r")) * threshold
    val pairCond = blockBy.map(c => l(c) === r(c))
      .foldLeft(col("id_l") < col("id_r") && sizeOk)(_ && _)
    val joined0 =
      if (blockBy.nonEmpty) l.join(r, pairCond)
      else l.crossJoin(r).filter(col("id_l") < col("id_r") && sizeOk)
    val joined = blockBy.foldLeft(joined0)((d, c) => d.drop(r(c)))
    Buckets.hashedJaccard(joined, "sh_l", "sh_r", "jaccard")
      .filter(col("jaccard") >= threshold)
      .select(col("id_l"), col("id_r"), col("jaccard"))
  }
}
