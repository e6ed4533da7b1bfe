package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer training — the OTHER
  * production tokenizer family beside BPE ([[BpeOps]]): instead of
  * greedily merging pairs, start from a substring piece inventory and
  * run fixed-round hard-EM (Kudo 2018's EM with Viterbi E-steps): each
  * round segments every vocab word optimally under the current piece
  * scores, then re-estimates scores from segmentation usage. Hard
  * (Viterbi) EM is the no-libm member of the family — the soft E-step's
  * forward-backward needs log-space float sums, while the Viterbi
  * objective here is fully integer and therefore DuckDB-oracle-exact.
  *
  * Objective (the no-libm discipline of q_lm_score): a segmentation is
  * scored lexicographically — FEWEST pieces first, then HIGHEST total
  * piece score (scores are ppm unigram probabilities, floor-division).
  * Encoded as one int64 key per DP state: key = n_pieces·10^8 − Σ sc
  * (Σ sc < 16·10^6 < 10^8, so the encoding is a true lexicographic
  * order), minimized. Ties across piece lengths break toward the
  * LONGER piece — fixed in both the DP fill and the backtrack, so the
  * chosen segmentation is deterministic and engine-portable.
  *
  * Contract caps (part of the tokenizer definition, identical in the
  * oracle): words are lowercase `^[a-z]+$` of length 2..[[MaxWordLen]];
  * pieces are substrings of length 1..[[MaxPieceLen]]; the seed
  * inventory keeps every single character plus the top [[SeedPieces]]
  * multi-char substrings by occurrence-weighted count. Single-character
  * pieces are NEVER pruned (the coverage floor: every in-alphabet word
  * stays segmentable), mirroring SentencePiece's required-character
  * set.
  *
  * Scale shape (the BpeOps discipline): the corpus is scanned once into
  * the compressed word-frequency vocab; every EM round runs on
  * |distinct words| rows. The Viterbi DP is ONE higher-order-function
  * expression per round (aggregate over ≤ MaxWordLen positions probing
  * the piece inventory — ≤ 26 chars + [[SeedPieces]] entries by
  * contract — embedded as a literal map, so segmentation is a pure
  * projection) — no driver loop over data, no UDF, and the only
  * shuffle per round is the piece-usage aggregation whose ≤ 90-row
  * result is re-scored on the driver.
  */
object UnigramOps {

  val MaxWordLen = 12
  val MaxPieceLen = 4
  val SeedPieces = 64
  val EmRounds = 2

  /** Unreachable/missing-piece key floor. Legit keys are < 16·10^8;
    * any path through a missing piece lands ≥ ~10^14, so reachability
    * is a magnitude test and min() never prefers a fake path when a
    * real one exists. Worst-case accumulated key ≤ MaxWordLen·(10^14 +
    * 10^8) ≈ 1.2·10^15 — far from int64 overflow even under ANSI.
    */
  private val Big = 100000000000000L

  /** OOV threshold for [[tokenizeWithPieces]]: a final DP key at or
    * above this means the word was not segmentable from the stored
    * pieces (some character missing). Legit keys stay < 16·10^8.
    */
  private val OovKey = 1000000000000L

  /** Compressed trainable vocab (w, f). */
  def wordFreq(docs: DataFrame): DataFrame =
    docs.select(explode(split(lower(col("text")), TextOps.WsRegex)).as("w"))
      .filter(col("w").rlike("^[a-z]+$") &&
        length(col("w")).between(2, MaxWordLen))
      .groupBy("w").agg(count(lit(1)).as("f"))

  /** All substring OCCURRENCES of each word, length 1..MaxPieceLen —
    * the piece-candidate multiset (weighted by f downstream).
    */
  private def occurrences(wf: DataFrame): DataFrame =
    wf.select(col("w"), col("f"), explode(expr(
      s"""flatten(transform(sequence(1, length(w)), s ->
            filter(transform(sequence(1, $MaxPieceLen), l ->
              if(s + l - 1 <= length(w), substring(w, s, l),
                 cast(null as string))),
              x -> x is not null)))""")).as("p"))

  /** Seed piece inventory with ppm scores: every single character plus
    * the top [[SeedPieces]] multi-char substrings by (occurrence-
    * weighted count desc, piece asc). Output (p, cnt, sc).
    */
  def seedPieces(wf: DataFrame): DataFrame = {
    val cnt = occurrences(wf).groupBy("p").agg(sum("f").as("cnt"))
    withPpm(cnt.filter(length(col("p")) === 1).unionByName(
      cnt.filter(length(col("p")) > 1)
        .orderBy(col("cnt").desc, col("p").asc).limit(SeedPieces)))
  }

  /** sc = cnt·10^6 div Σcnt — the ppm unigram probability, floored. */
  private def withPpm(kept: DataFrame): DataFrame =
    kept.crossJoin(broadcast(kept.agg(sum("cnt").as("t"))))
      .select(col("p"), col("cnt"), expr("cnt * 1000000 div t").as("sc"))

  /** Invalid-extension sentinel for the ENCODED DP (see [[cand]]):
    * must exceed every real encoded candidate (raw key ≤ ~1.2·10^15,
    * encoded ≤ ~2.1·10^16) so an out-of-range extension never wins the
    * argmin; at pos ≥ 1 the l=1 extension is always in range, so the
    * recorded tag always comes from a real candidate. Far from int64
    * overflow.
    */
  private val InvalidEnc = 90000000000000000L

  /** One ENCODED DP-fill candidate: (raw key)·16 + (4−l). A single
    * least() then both minimizes the lexicographic key AND records the
    * argmin extension length in the low bits — equal keys differ only
    * in the 4−l tag, and the longer l has the smaller tag, so the
    * encoded min IS the `ORDER BY cand, l DESC` rule of the oracle.
    * Raw key = best prefix of length (pos−l) extended with the piece
    * covering (pos−l, pos]; missing piece ⇒ ≥ Big. Stored states are
    * themselves encoded, so the prefix key is `div 16`-decoded.
    * (The former raw-key DP re-derived the argmin in the backtrack by
    * re-evaluating all four candidates per step through a 3-deep if —
    * an 8× expansion of this expression that dominated the plan's
    * expression-tree size and Catalyst/codegen time.)
    */
  private def cand(pos: String, l: Int): String =
    s"""if($pos >= $l,
          ((element_at(st, $pos - $l + 1) div 16) + 100000000L
            - coalesce(try_element_at(pm, substring(w, $pos - $l + 1, $l)),
                       ${-Big}L)) * 16 + ${4 - l},
          ${InvalidEnc}L)"""

  /** Forward Viterbi fill over encoded states: st[j] (0-based j =
    * prefix length) = minimal encoded candidate over the four
    * extension lengths. st[0] = 0; the placeholder is overwritten at
    * step j before any later step reads it.
    */
  private def dpExpr: String =
    s"""aggregate(
          sequence(1, length(w)),
          concat(array(0L), transform(sequence(1, length(w)), x -> ${Big * 16}L)),
          (st, j) -> transform(st, (v, i) ->
            if(i = j, least(${cand("j", 4)}, ${cand("j", 3)},
                            ${cand("j", 2)}, ${cand("j", 1)}), v)))"""

  /** Backtrack: walk from pos = len reading the length tag the fill
    * recorded (4 − st[pos] % 16 — the same argmin with the same
    * longer-piece tie-break, now two array reads per step instead of
    * re-evaluating all four candidates), emitting the covering piece.
    * At most len steps; finished words idle.
    */
  private def btExpr: String = {
    val bl = "cast(4 - (element_at(st, acc.pos + 1) % 16) as int)"
    s"""aggregate(
          sequence(1, length(w)),
          named_struct('pos', length(w),
                       'toks', cast(array() as array<string>)),
          (acc, z) -> if(acc.pos <= 0, acc,
            named_struct(
              'pos', acc.pos - $bl,
              'toks', concat(acc.toks,
                array(substring(w, acc.pos - $bl + 1, $bl))))),
          acc -> acc.toks)"""
  }

  /** The WHOLE piece inventory as one literal map column, collected to
    * the driver and embedded in the plan. Bounded by the tokenizer
    * contract (≤ 26 single chars + [[SeedPieces]] multi-char pieces ≈
    * 90 entries, a few KB — NOT corpus-sized; the same class as
    * broadcasting k-means centroids). Replaces the former per-word
    * piece-map build (substring explode → join → collect_set groupBy →
    * left join back: two exchanges and an ObjectHashAggregate per
    * segmentation pass) with a zero-shuffle projection. DP/greedy
    * lookups only ever probe substrings of w, so the global map is
    * lookup-identical to the per-word submap.
    */
  private def pieceMapCol(pieces: DataFrame): Column =
    pieceMapLit(pieces.select(col("p"), col("sc").cast("long")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)

  private def pieceMapLit(pm: Map[String, Long]): Column = typedLit(pm)

  /** Segment every row's word `w` against the piece map, KEEPING the
    * input's other columns (the trainer rides f through): adds `key`
    * (the decoded lexicographic objective; ≥ [[OovKey]] marks
    * unsegmentable) and `toks`. Pure projection — no join, no shuffle.
    */
  private def segmentedWithMap(words: DataFrame,
                               pm: Map[String, Long]): DataFrame =
    words.withColumn("pm", pieceMapLit(pm))
      .withColumn("st", expr(dpExpr))
      .withColumn("key", expr("element_at(st, length(w) + 1) div 16"))
      .withColumn("toks", expr(btExpr))
      .drop("pm", "st")

  private[graft] def segmentWords(words: DataFrame,
                           pieces: DataFrame): DataFrame =
    words.withColumn("pm", pieceMapCol(pieces))
      .withColumn("st", expr(dpExpr))
      .select(col("w"),
        expr("element_at(st, length(w) + 1) div 16").as("key"),
        expr(btExpr).as("toks"))

  /** M-step on the DRIVER-collected inventory: multi-char pieces
    * survive iff used (cnt ≥ 1 — every usage row is); single chars
    * ALWAYS survive (coverage floor), with their observed usage (0 if
    * the EM routed around them). Scores re-normalized to ppm of the
    * kept total — the same floor-div integer math the former withPpm
    * frame computed, now O(|inventory| ≤ 90) driver arithmetic per
    * round instead of a crossJoin + union + left-join subplan.
    */
  private def emStep(usage: Map[String, Long],
                     chars: Seq[String]): Seq[(String, Long, Long)] = {
    val kept = usage.toSeq.filter(_._1.length > 1) ++
      chars.map(c => c -> usage.getOrElse(c, 0L))
    val t = kept.map(_._2).sum
    kept.map { case (p, c) => (p, c, c * 1000000L / t) }
  }

  /** [[EmRounds]] hard-EM rounds over the checkpointed word-frequency
    * vocab: per round ONE distributed aggregation (piece usage over
    * the segmented vocab, riding f straight through the projection —
    * no seg↔wf join) whose ≤ 90-row result is collected and re-scored
    * on the driver. Returns (piece, n_used, sc_ppm) tuples.
    */
  private def trainFromWf(wf: DataFrame): Seq[(String, Long, Long)] = {
    var pieces: Seq[(String, Long, Long)] = seedPieces(wf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val chars = pieces.map(_._1).filter(_.length == 1)
    (1 to EmRounds).foreach { _ =>
      val pm = pieces.map(p => p._1 -> p._3).toMap
      val usage = segmentedWithMap(wf, pm)
        .select(col("f"), explode(col("toks")).as("p"))
        .groupBy("p").agg(sum("f").as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      pieces = emStep(usage, chars)
    }
    pieces
  }

  /** [[EmRounds]] hard-EM rounds to the final piece table
    * (piece, n_used, sc_ppm) — the q_unigram_train surface.
    */
  def trainPieces(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainFromWf(wordFreq(docs).localCheckpoint(true))
      .toDF("piece", "n_used", "sc_ppm")
  }

  /** Train and persist the piece table — the artifact half
    * ([[BpeOps.trainWriteVocab]] discipline): trained once per corpus
    * snapshot, every later tokenization reads the artifact.
    */
  def trainWritePieces(docs: DataFrame, path: String): Unit =
    trainPieces(docs).write.mode("overwrite").parquet(path + "/pieces")

  /** Tokenize against the PERSISTED pieces ([[trainWritePieces]]) —
    * apply without retraining: distinct words segment once against the
    * stored scores, instances join back by word. A word that cannot be
    * segmented from the stored pieces (a character outside the
    * training alphabet) falls back to character-level counting —
    * length(w) tokens — and increments n_oov, mirroring
    * [[BpeOps.tokenizeWithVocab]]'s fallback. Output (doc_id, n_words,
    * n_chars, n_tokens, n_oov).
    */
  def tokenizeWithPieces(docs: DataFrame, path: String): DataFrame = {
    val pieces = Tables.parquet(docs.sparkSession, path + "/pieces")
      .select(col("piece").as("p"), col("sc_ppm").as("sc"))
    val inst = docs.select(col("doc_id"),
        explode(split(lower(col("text")), TextOps.WsRegex)).as("w"))
      .filter(col("w").rlike("^[a-z]+$") &&
        length(col("w")).between(2, MaxWordLen))
    val seg = segmentWords(inst.select("w").distinct(), pieces)
      .select(col("w"), (col("key") >= OovKey).as("oov"), col("toks"))
    inst.join(seg, "w")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast("long").as("n_chars"),
        sum(when(col("oov"), length(col("w")).cast("long"))
          .otherwise(size(col("toks")).cast("long"))).as("n_tokens"),
        sum(when(col("oov"), 1L).otherwise(0L)).as("n_oov"))
  }

  /** Per-document unigram tokenize over the training corpus itself
    * (no OOV by construction) — the [[BpeOps.tokenizeTrained]] twin
    * feeding the cross-family comparison.
    */
  def tokenizeTrained(docs: DataFrame): DataFrame = {
    val pm = trainFromWf(wordFreq(docs).localCheckpoint(true))
      .map(p => p._1 -> p._3).toMap
    val inst = docs.select(col("doc_id"),
        explode(split(lower(col("text")), TextOps.WsRegex)).as("w"))
      .filter(col("w").rlike("^[a-z]+$") &&
        length(col("w")).between(2, MaxWordLen))
    inst.join(segmentedWithMap(inst.select("w").distinct(), pm)
        .select("w", "toks"), "w")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast("long").as("n_chars"),
        sum(size(col("toks")).cast("long")).as("n_tokens"))
  }

  /** BPE-vs-unigram FERTILITY comparison — the cross-family readout a
    * tokenizer bake-off produces: corpus-total words/tokens and
    * fertility (tokens per word, exact floor ppm) per family, one row
    * each. Both tokenizers run over the lowercase `^[a-z]+$` word
    * universe; the unigram side's MaxWordLen cap is part of its
    * contract (no fixture word exceeds it — at corpora where some do,
    * the universes diverge by exactly those words and the BPE row
    * counts them).
    */
  // ---- WordPiece-style greedy apply (longest-match-first) ----

  /** Greedy match length at `pos`: the LONGEST piece (≤ MaxPieceLen)
    * of the word's piece map starting there; 0 = nothing matches, i.e.
    * the character at `pos` is outside the piece alphabet (single
    * chars are never pruned, so an in-alphabet position always admits
    * at least l=1).
    */
  private def greedyLen(pos: String): String = {
    def ok(l: Int) =
      s"""($pos + $l - 1 <= length(w)
           and try_element_at(pm, substring(w, $pos, $l)) is not null)"""
    s"if(${ok(4)}, 4, if(${ok(3)}, 3, if(${ok(2)}, 2, if(${ok(1)}, 1, 0))))"
  }

  /** One left-to-right greedy pass as a single aggregate expression
    * (≤ MaxWordLen steps; finished or OOV-stuck words idle): state
    * (pos, n, oov) — the BERT WordPiece inference algorithm, O(len)
    * lookups per word vs Viterbi's O(len·P) DP.
    */
  private def greedyExpr: String = {
    val gl = greedyLen("acc.pos")
    s"""aggregate(
          sequence(1, length(w)),
          named_struct('pos', 1, 'n', cast(0 as bigint), 'oov', false),
          (acc, z) -> if(acc.oov or acc.pos > length(w), acc,
            if($gl = 0,
               named_struct('pos', acc.pos, 'n', acc.n, 'oov', true),
               named_struct('pos', cast(acc.pos + $gl as int),
                 'n', acc.n + 1L, 'oov', false))),
          acc -> named_struct('n', acc.n, 'oov', acc.oov))"""
  }

  /** Greedy-segment each distinct word against the piece table:
    * (w, n_greedy, oov). A word goes OOV iff some character is outside
    * the piece alphabet — the SAME condition under which the Viterbi
    * DP is unreachable (no trained piece can cover a missing char, and
    * greedy always advances on in-alphabet positions via l=1), so the
    * two segmenters agree on the OOV set by construction and differ
    * only in token counts.
    */
  private[graft] def greedySegment(words: DataFrame,
                                   pieces: DataFrame): DataFrame =
    words.withColumn("pm", pieceMapCol(pieces))
      .withColumn("g", expr(greedyExpr))
      .select(col("w"), col("g.n").as("n_greedy"), col("g.oov").as("oov"))

  /** Greedy columns over an arbitrary frame (adds n_greedy, oov,
    * keeps everything else) — the projection twin the bake-off rides.
    */
  private def greedyWithMap(words: DataFrame,
                            pm: Map[String, Long]): DataFrame =
    words.withColumn("pm", pieceMapLit(pm))
      .withColumn("g", expr(greedyExpr))
      .withColumn("n_greedy", col("g.n"))
      .withColumn("oov", col("g.oov"))
      .drop("pm", "g")

  /** WORDPIECE-STYLE APPLY from the persisted pieces
    * ([[trainWritePieces]]) — the THIRD tokenizer-family
    * representative: BPE merges pairs, unigram-LM segments optimally
    * (Viterbi), WordPiece-at-inference matches greedily
    * longest-first. Same artifact, same OOV char-fallback contract as
    * [[tokenizeWithPieces]]; output (doc_id, n_words, n_chars,
    * n_tokens, n_oov).
    */
  def wordpieceWithPieces(docs: DataFrame, path: String): DataFrame = {
    val pieces = Tables.parquet(docs.sparkSession, path + "/pieces")
      .select(col("piece").as("p"), col("sc_ppm").as("sc"))
    val inst = docs.select(col("doc_id"),
        explode(split(lower(col("text")), TextOps.WsRegex)).as("w"))
      .filter(col("w").rlike("^[a-z]+$") &&
        length(col("w")).between(2, MaxWordLen))
    val seg = greedySegment(inst.select("w").distinct(), pieces)
    inst.join(seg, "w")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_words"),
        sum(length(col("w"))).cast("long").as("n_chars"),
        sum(when(col("oov"), length(col("w")).cast("long"))
          .otherwise(col("n_greedy"))).as("n_tokens"),
        sum(when(col("oov"), 1L).otherwise(0L)).as("n_oov"))
  }

  /** Greedy-vs-Viterbi fertility over the SAME pieces — the price of
    * O(len) inference: greedy can only use MORE pieces than the
    * optimal segmentation (per-word n_greedy ≥ n_viterbi, spec-pinned),
    * and the corpus-level excess in exact floor ppm is the readout a
    * tokenizer deployment weighs against the DP cost. Training corpus
    * universe (no OOV by construction).
    */
  def wordpieceCompare(docs: DataFrame): DataFrame = {
    // ONE corpus scan and ONE checkpointed vocab shared by the trainer
    // and both segmenters (the former shape re-derived wf and joined
    // wf ⋈ viterbi ⋈ greedy on w — three aggregation subtrees and two
    // SortMergeJoins); both segmenters are now projections over the
    // same vocab rows, so the bake-off is vocab-scan → project → agg.
    val wf = wordFreq(docs).localCheckpoint(true)
    val pm = trainFromWf(wf).map(p => p._1 -> p._3).toMap
    val vit = segmentedWithMap(wf, pm)
      .select(col("w"), col("f"), size(col("toks")).cast("long").as("n_vit"))
    greedyWithMap(vit, pm)
      .agg(sum("f").as("n_words"),
        sum(col("f") * col("n_greedy")).as("n_tok_greedy"),
        sum(col("f") * col("n_vit")).as("n_tok_viterbi"))
      .select(col("n_words"), col("n_tok_greedy"), col("n_tok_viterbi"),
        expr("(n_tok_greedy - n_tok_viterbi) * 1000000" +
          " div n_tok_viterbi").as("greedy_excess_ppm"))
  }

  def tokenizerCompare(docs: DataFrame, bpeMerges: Int): DataFrame = {
    def roll(tag: String, t: DataFrame) =
      t.agg(sum("n_words").as("n_words"), sum("n_tokens").as("n_tokens"))
        .select(lit(tag).as("tokenizer"), col("n_words"), col("n_tokens"),
          expr("n_tokens * 1000000 div n_words").as("fertility_ppm"))
    roll("bpe", BpeOps.tokenizeTrained(docs, bpeMerges))
      .unionByName(roll("unigram", tokenizeTrained(docs)))
  }
}
