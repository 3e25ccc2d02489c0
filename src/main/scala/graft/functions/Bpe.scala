package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training, in the scalable word-vocabulary
  * formulation (the one production tokenizer trainers use): the corpus is
  * touched ONCE to build `(word, count)` — every later iteration runs on
  * that weighted vocabulary relation, whose size is the DISTINCT-word
  * count, not the corpus size. At 100 TB the corpus pass is one
  * shuffle-light word count; the K merge iterations then operate on a
  * relation millions of times smaller.
  *
  * Training is the textbook BPE loop (Sennrich et al. 2016): each word is
  * a symbol sequence (characters + `</w>` end marker); per iteration the
  * corpus-weighted count of every ADJACENT symbol pair is aggregated, the
  * most frequent pair (deterministic `(count desc, pair asc)` tie-break)
  * becomes the next merge, and the vocabulary is rewritten with that pair
  * fused. The driver holds only the K chosen merges (the model — KB-sized);
  * the vocabulary stays distributed, with `localCheckpoint` every few
  * rounds so the iteration count never builds a deep lineage.
  */
object Bpe {

  /** End-of-word marker (attached to a word's last character, so merges
    * distinguish word-final from word-internal contexts).
    */
  val EndOfWord = "</w>"

  /** `(word, count)` over the whitespace tokens of `textCol` — the single
    * corpus pass. One hash aggregation; map-side combine absorbs the
    * zipfian head.
    */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextOps.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** A word as its initial symbol sequence: characters, with [[EndOfWord]]
    * fused onto the final one. Package-visible: the fused encode+pack
    * operator ([[graft.operators.Packing.packSequencesEncoded]]) needs the
    * same out-of-vocabulary fallback [[encode]] uses.
    */
  private[graft] def initialSymbols(word: Column): Column = {
    val chars = filter(split(word, ""), c => length(c) > 0)
    transform(chars, (c, i) =>
      when(i === size(chars) - 1, concat(c, lit(EndOfWord))).otherwise(c))
  }

  /** Per-word length cap for merge application — the WordPiece
    * `max_input_chars_per_word` idea. [[applyMerge]] is O(len²) per word
    * (the fold copies its accumulator array per symbol), which is the
    * POINT of the vocab formulation for natural words (≤ tens of chars)
    * but a straggler factory for pathological ones: a single 2M-char
    * unbroken token stalled its task indefinitely (SCALING.md
    * "Pathological shapes"). A word longer than `maxWordChars` is almost
    * surely binary garbage / minified junk, not language — it segments as
    * ONE opaque `word</w>` symbol (merge-exempt, O(1)) instead of a
    * character sequence, bounding both the fold cost and the subword
    * count it contributes to packing budgets.
    *
    * OPT-IN (`maxWordChars <= 0` = off, the default everywhere): the cap
    * changes segmentation results for over-long words, and the DuckDB
    * gate oracles replay exact uncapped per-char segmentation — defaults
    * preserve exact semantics, protection is a documented knob (the
    * `maxDocChars` convention). Wild-corpus ingests should set it.
    */
  private[graft] def cappedSymbols(word: Column, maxWordChars: Int): Column =
    if (maxWordChars <= 0) initialSymbols(word)
    else when(length(word) > maxWordChars, array(concat(word, lit(EndOfWord))))
      .otherwise(initialSymbols(word))

  /** Rewrite a symbol sequence with ONE merge `(a, b) → ab` applied
    * left-to-right (the BPE application order): a fold over the sequence
    * that fuses an element onto the accumulator's tail when the pair
    * matches. O(len²) array copying per word — fine for word-length
    * sequences, which is why the vocab formulation matters.
    */
  private def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) => {
      // try_element_at: ANSI-safe on the empty accumulator (null, not error)
      val last = try_element_at(acc, lit(-1))
      when(last === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x)))
    })

  /** Nested-lambda cap per projection: the analyzer resolves one lambda
    * nesting level per fixpoint iteration, so folding hundreds of
    * [[applyMerge]]s into ONE expression exhausts its iteration budget.
    * Chunking the fold across stacked Projects keeps per-expression depth
    * bounded while staying one lazy plan (no materialization between
    * chunks).
    */
  private val MergeFoldChunk = 8

  private def applyMergesChunked(merges: Seq[(String, String)],
                                 keep: Column, symsCol: String)(
      df: DataFrame): DataFrame =
    merges.grouped(MergeFoldChunk).foldLeft(df) { (d, grp) =>
      d.select(keep, grp.foldLeft(col(symsCol)) {
        case (syms, (a, b)) => applyMerge(syms, a, b)
      }.as(symsCol))
    }

  /** Corpus-weighted adjacent-pair counts over a `(cnt, syms)` vocabulary
    * relation — the per-round aggregation of the training loop.
    */
  private def pairCounts(v: DataFrame): DataFrame =
    v.select(col("cnt"), explode(
        when(size(col("syms")) >= 2,
          transform(sequence(lit(1), size(col("syms")) - 1),
            j => struct(element_at(col("syms"), j).as("a"),
              element_at(col("syms"), j + 1).as("b"))))
          .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("p"))
      .groupBy("p").agg(sum(col("cnt")).as("n"))

  /** Train `numMerges` BPE merges over the corpus, exactly the textbook
    * sequential loop (one argmax per merge). Returns the ordered merge list
    * — the tokenizer model. `vocab` must be a `(word, cnt)` relation
    * ([[wordCounts]]); pass `checkpointEvery` down for long runs. For large
    * vocabularies (32k merges = 32k sequential Spark jobs here) use
    * [[trainMergesBatched]].
    */
  def trainMerges(vocab: DataFrame, numMerges: Int,
                  checkpointEvery: Int = 8): Seq[(String, String)] =
    trainMergesBatched(vocab, numMerges, batchSize = 1, checkpointEvery)

  /** Batched merge training: each round aggregates pair counts ONCE, takes
    * the top candidates, greedily keeps up to `batchSize` of them whose
    * occurrences provably cannot overlap (a candidate is deferred to the
    * next round when its left symbol equals an already-picked right or its
    * right symbol equals an already-picked left — the only adjacency shapes
    * through which applying one merge changes another's count), applies the
    * kept merges in rank order in one vocabulary rewrite, and checkpoints.
    * A 32k-merge vocabulary is ~32k/batchSize rounds of Spark jobs instead
    * of 32k.
    *
    * Fidelity: within a round, kept merges have exactly the counts the
    * sequential loop would have seen (the overlap filter guarantees it).
    * The one divergence from strictly-sequential BPE: a pair CREATED by an
    * earlier in-round merge (x, ab) only becomes a candidate next round,
    * so it cannot outrank the rest of the current batch even when its
    * count would have. `batchSize = 1` restores the exact textbook
    * sequence; larger batches trade that ordering nuance for a
    * `batchSize`× cut in driver round-trips — the standard scalable-BPE
    * compromise.
    */
  def trainMergesBatched(vocab: DataFrame, numMerges: Int,
                         batchSize: Int = 64,
                         checkpointEvery: Int = 8,
                         maxWordChars: Int = 0): Seq[(String, String)] = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    // the cap keeps a pathological vocab word (megabyte tokens) from
    // dominating every round's pair counts with garbage pairs
    var v = vocab.select(col("cnt"), cappedSymbols(col("word"), maxWordChars).as("syms"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var done = false
    while (merges.size < numMerges && !done) {
      val want = math.min(batchSize, numMerges - merges.size)
      // overscan 4x: rejected (overlapping) candidates are replaced from the
      // tail; the top-1 candidate is always kept, so progress is guaranteed
      val top = pairCounts(v)
        .orderBy(col("n").desc, col("p.a"), col("p.b"))
        .limit(want * 4).collect() // top-N rows only — the model is driver-side by design
      if (top.isEmpty) done = true
      else {
        val lefts = scala.collection.mutable.HashSet.empty[String]
        val rights = scala.collection.mutable.HashSet.empty[String]
        val picked = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        val it = top.iterator
        while (picked.size < want && it.hasNext) {
          val row = it.next().getStruct(0)
          val (a, b) = (row.getString(0), row.getString(1))
          if (!rights.contains(a) && !lefts.contains(b)) {
            picked += ((a, b)); lefts += a; rights += b
          }
        }
        merges ++= picked
        v = applyMergesChunked(picked.toSeq, col("cnt"), "syms")(v)
        round += 1
        // batched rounds stack up to batchSize nested fold expressions per
        // projection — checkpoint each round to keep plans shallow; the
        // sequential (batchSize=1) cadence is the caller-tunable original
        if (picked.size > 1 || round % checkpointEvery == 0) v = v.localCheckpoint(true)
      }
    }
    merges.toSeq
  }

  /** The trained segmentation of every vocabulary word: `(word, subwords)`.
    * This is the ENCODE path's lookup table — broadcast it and encoding the
    * corpus is a narrow join, with no per-row merge loop.
    */
  def vocabSegmentation(vocab: DataFrame,
                        merges: Seq[(String, String)],
                        maxWordChars: Int = 0): DataFrame =
    applyMergesChunked(merges, col("word"), "subwords")(
      vocab.select(col("word"), cappedSymbols(col("word"), maxWordChars).as("subwords")))

  /** Encode a corpus with a trained segmentation table: whitespace words
    * join the (broadcast-size-gated) table; out-of-vocabulary words fall
    * back to their character sequence. Output: `(id, n_words, n_subwords,
    * subwords)` — the real token count a packing budget should use.
    */
  def encode(df: DataFrame, idCol: String, textCol: String,
             segmentation: DataFrame, maxWordChars: Int = 0): DataFrame = {
    val words = df.select(col(idCol).as("id"),
      posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "word")))
    val enc = words
      .join(graft.operators.Joins.maybeBroadcast(segmentation), Seq("word"), "left")
      .withColumn("subwords",
        coalesce(col("subwords"), cappedSymbols(col("word"), maxWordChars)))
      .groupBy("id")
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("subwords"))).cast("long").as("n_subwords"),
        flatten(array_sort(collect_list(struct(col("pos"), col("subwords"))))
          .getField("subwords")).as("subwords"))
    // posexplode emits nothing for zero-token docs — left-join the id set
    // back so empty documents survive with n_words = 0 (auditable row
    // counts, same contract as Dedup.dropRepeatedSpans' n_kept = 0)
    df.select(col(idCol).as("id")).join(enc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_subwords"), lit(0L)).as("n_subwords"),
        coalesce(col("subwords"), array().cast("array<string>")).as("subwords"))
  }
}
