package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin

/** BPE merge training (Sennrich et al. 2016) — the tokenizer-training
  * step of an LLM data pipeline, distributed and DETERMINISTIC: ties in
  * pair frequency break lexicographically, so the learned merge table
  * is bit-identical in any engine (the oracle unrolls the same rounds
  * in SQL with zero tolerance) and under any partitioning.
  *
  * Classic BPE trains on the WORD-FREQUENCY table, not the corpus —
  * that is what makes it tractable at 100 TB: the corpus collapses to
  * a vocab-sized frame in one map-side-combined `groupBy(word)` pass
  * ([[WordPiece.wordCounts]]), and every round after that works on
  * |vocab| rows however large the corpus was.
  *
  * Per round:
  *   1. adjacent symbol pairs per word (per-row transform, no window),
  *      weighted by word frequency, `groupBy(a, b)` with map-side
  *      combine — a Zipf-head pair partial-aggregates before the
  *      shuffle;
  *   2. winner = max count, ties → (a, b) ascending — ONE TakeOrdered
  *      row to the driver (the merge table is the op's OUTPUT, so
  *      driver-side merges are the contract, not a shortcut);
  *   3. merge application is a pure `aggregate` FOLD per word — greedy
  *      left-to-right non-overlapping, the BPE rule: append, or fuse
  *      with the accumulator's last symbol when (last, current) is the
  *      winning pair. No explode, no window, no shuffle; "aaa" under
  *      (a,a) fuses positions 1-2 and leaves 3, because the fused "aa"
  *      no longer equals "a" (concatenation strictly grows, so a fused
  *      symbol can never re-match as the pair's left side in the same
  *      round — the property that makes the fold exact).
  *
  * The vocab frame is re-pinned each round ([[Pin]]: vocab-sized, its
  * row count observed on the pin's own job) so the k-round plan does
  * not nest k interpreted HOFs.
  *
  * Initial symbols are the word's characters plus a final `</w>`
  * end-of-word marker (the Sennrich convention, so merges distinguish
  * word-final from word-internal contexts).
  */
object Bpe {

  /** One learned merge: `left + right -> left||right`, rank = order. */
  case class Merge(rank: Int, left: String, right: String)

  /** Character symbols + `</w>`. Exposed for specs/encoders. The
    * filter guards the empty string `split("", -1)` leaves at the tail
    * under Spark's keep-trailing-empties limit. */
  def initSymbols(word: Column): Column =
    concat(filter(split(word, ""), s => length(s) > 0),
      array(lit("</w>")))

  /** Greedy left-to-right application of one merge as a fold. */
  def applyMerge(syms: Column, left: String, right: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 &&
          element_at(acc, -1) === lit(left) && s === lit(right),
        concat(slice(acc, lit(1), size(acc) - 1),
          array(concat(element_at(acc, -1), s))))
        .otherwise(concat(acc, array(s))))

  /** Adjacent symbol pairs of a symbol-array column, as structs. */
  private def pairs(syms: Column): Column =
    when(size(syms) >= 2,
      transform(sequence(lit(1), size(syms) - 1),
        i => struct(element_at(syms, i).as("a"),
          element_at(syms, i + 1).as("b"))))
      .otherwise(array().cast("array<struct<a:string,b:string>>"))

  /** Learn `k` merges from a `(word, freq)` table; returns the ordered
    * merge list and the final symbolized vocab
    * `(word, freq, symbols: array<string>)`.
    */
  def fit(words: DataFrame, wordCol: String, freqCol: String,
          k: Int): (Seq[Merge], DataFrame) = {
    require(k >= 0, "k >= 0")
    var vocab = Pin(words
      .select(col(wordCol).as("word"), col(freqCol).cast("long").as("freq"),
        initSymbols(col(wordCol)).as("symbols"))
      .filter(col("word").isNotNull && length(col("word")) > 0),
      rowBytes = 64L).df

    val merges = Seq.newBuilder[Merge]
    var done = false
    var r = 0
    while (r < k && !done) {
      val top = vocab
        .select(col("freq"), explode(pairs(col("symbols"))).as("p"))
        .groupBy(col("p.a"), col("p.b"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true // every word fully merged
      else {
        val (a, b) = (top.head.getString(0), top.head.getString(1))
        merges += Merge(r + 1, a, b)
        val next = vocab.withColumn("symbols",
          applyMerge(col("symbols"), a, b))
        val old = vocab
        vocab = Pin(next, rowBytes = 64L).df
        Pin.free(old)
      }
      r += 1
    }
    (merges.result(), vocab)
  }

  /** Encode a text column's words with a learned merge list (applied in
    * rank order — the BPE encode rule for a small merge table; each
    * merge is one codegen-free fold, so keep the list modest or bake a
    * trained vocab into [[WordPiece]] for production encoding).
    */
  def encode(df: DataFrame, textCol: String, merges: Seq[Merge],
             outCol: String = "bpe_symbols"): DataFrame = {
    require(merges.size <= 64,
      s"Bpe.encode chains one interpreted fold PER MERGE (${merges.size} " +
        "given): a real vocabulary (30k merges) blows up analysis and " +
        "codegen, not just runtime. For production encoding, bake the " +
        "trained symbols into a WordPiece vocabulary and use the native " +
        "longest-match expression: graft.text.WordPiece.tokens " +
        "(see Bpe.toWordPieceVocab).")
    def encodeWord(w: Column): Column =
      merges.sortBy(_.rank).foldLeft(initSymbols(w)) { (syms, m) =>
        applyMerge(syms, m.left, m.right)
      }
    df.withColumn("__bpe_toks", Shingles.tokens(col(textCol)))
      .withColumn(outCol,
        flatten(transform(col("__bpe_toks"), encodeWord(_))))
      .drop("__bpe_toks")
  }

  /** Bake a trained symbolized vocab (the second return of [[fit]]) into
    * a WordPiece piece vocabulary — THE production encoding route: BPE
    * TRAINING is once-per-tokenizer driver-side work, but ENCODING
    * touches all 100 TB, and [[encode]]'s per-merge fold chain caps out
    * at 64 merges by construction. This bridge extracts every symbol the
    * trained vocab actually uses (word-initial symbols plain,
    * non-initial ones as `##` continuations, the `</w>` end-of-word
    * marker stripped) and the result feeds
    * [[WordPiece.tokens]] — the codegen'd greedy longest-match
    * expression, a stateless per-row projection that runs unchanged on
    * batch and streams.
    *
    * Greedy longest-match over the piece set is WordPiece's rule, not
    * BPE's merge-order replay — the standard trained-BPE serving
    * trade-off (fast-tokenizer style): segmentations agree on text
    * drawn from the training distribution whenever no shorter piece
    * shadows a longer one mid-walk, and every token emitted is a
    * trained subword either way.
    *
    * The piece set is Heaps'-law bounded (≤ alphabet + one new symbol
    * per merge), enforced by `maxPieces` before the driver collect.
    */
  def toWordPieceVocab(vocab: DataFrame, symbolsCol: String = "symbols",
                       endMark: String = "</w>",
                       maxPieces: Int = 1 << 20): Seq[String] = {
    val pieces = vocab
      .select(posexplode(col(symbolsCol)).as(Seq("pos", "sym")))
      .select(replace(col("sym"), lit(endMark), lit("")).as("body"),
        (col("pos") > 0).as("cont"))
      .filter(col("body") =!= "")
      .distinct()
    val n = pieces.limit(maxPieces + 1).count()
    require(n <= maxPieces,
      s"piece vocabulary exceeds maxPieces=$maxPieces — not a trained " +
        "BPE vocab shape (expected ≤ alphabet + k merges symbols)")
    pieces.collect()
      .map(r => (if (r.getBoolean(1)) "##" else "") + r.getString(0))
      .sorted.toSeq
  }
}
