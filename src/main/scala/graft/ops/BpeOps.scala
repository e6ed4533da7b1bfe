package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative BPE tokenizer training — the k-merge loop a real tokenizer
  * trainer runs (~50k rounds at production scale), of which `q_bpe_step`
  * is round 1. Reference analogue: the corpus statistics the reference's
  * wordcount pipeline feeds (WordCountMapper.java:24-31); the merge loop
  * itself is the standard Sennrich et al. 2016 algorithm, built here
  * Spark-first on the COMPRESSED vocab.
  *
  * Representation — the piece that makes the loop engine-portable: each
  * word is a string of WRAPPED symbols, `"hello"` → `"|h||e||l||l||o|"`.
  * Merging pair (a, b) is then one `replace(sym, "|a||b|", "|ab|")`:
  *  - `replace` in both Spark and DuckDB substitutes occurrences
  *    LEFT-TO-RIGHT, NON-OVERLAPPING — exactly the classic greedy BPE
  *    merge order, so `"|a||a||a||a|"` merges to `"|aa||aa|"`, never
  *    `"|aa||a||a|"` (a space-separated encoding gets this wrong: the
  *    shared boundary space is consumed by the first match and breaks
  *    the second).
  *  - No false matches: the word string is a concatenation of `"|s|"`
  *    blocks over a `|`-free symbol alphabet, so the pattern
  *    `"|a||b|"` — whose `a` must directly follow a `|` and whose
  *    middle `||` occurs only between blocks — matches only complete
  *    adjacent symbols.
  * The merged symbol is `replace(pk, "||", "")` — `"|ab|"` — so the
  * pair key itself carries the rewrite.
  *
  * Scale shape (the driver-loop discipline of GraphOps.pageRank's
  * rank loop): the corpus is scanned ONCE into the word
  * frequency table; every round after that runs on the compressed vocab
  * (|distinct words| rows, orders of magnitude below |corpus|). Per
  * round: one generated pair explode + keyed int64 agg (map-side
  * combined), a 1-row deterministic argmax ((count desc, pair asc) —
  * total order, no RNG), broadcast back via crossJoin — never a driver
  * collect — and one codegen'd string replace over the vocab. Vocab
  * lineage is cut with an eager localCheckpoint per round (the merge
  * chain would otherwise nest k replace plans deep).
  */
object BpeOps {

  /** Bare symbols of a wrapped word: split on `|`, drop empties. */
  def syms(sym: Column): Column =
    filter(split(sym, "\\|"), x => x =!= "")

  /** Compressed vocab (w, f, sym) from the documents corpus: lowercase
    * `^[a-z]+$` words of length ≥ 2 (engine-identical alphabet — the
    * q_bpe_step restriction), frequency-aggregated, wrapped-symbol
    * encoded one char per symbol. `w` rides through training unchanged
    * — it is the join key the APPLY side ([[tokenizeTrained]]) uses to
    * map corpus words to their merged symbol sequences.
    */
  def initVocab(docs: DataFrame): DataFrame =
    docs.select(explode(split(lower(col("text")), TextOps.WsRegex)).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(col("w"), col("f"),
        regexp_replace(col("w"), "(.)", "|$1|").as("sym"))

  /** Adjacent wrapped-pair keys of each vocab row, one per overlapping
    * symbol adjacency (the classic get_stats multiset, weighted by f
    * downstream): zip each symbol with its successor.
    */
  private def pairKeys(sym: Column): Column = {
    val s = syms(sym)
    filter(
      zip_with(s, slice(s, lit(2), greatest(size(s) - 1, lit(0))),
        (x, y) => concat(lit("|"), x, lit("||"), y, lit("|"))),
      p => p.isNotNull)
  }

  /** k BPE merge rounds to a merge TABLE: one row per round —
    * (round, merge_pair, pair_count, vocab_words, symbols_after).
    * `merge_pair` is the wrapped pair key (`"|a||b|"`); `pair_count`
    * its weighted adjacency count at election time; `symbols_after`
    * the corpus symbol total Σ f·|syms| after applying the merge —
    * the quantity whose monotone decrease is the whole point of BPE.
    * Round 1 coincides with the single-step `q_bpe_step` election
    * (spec-pinned).
    */
  def train(docs: DataFrame, merges: Int): DataFrame =
    trainLoop(docs, merges)._1

  /** The shared training loop: (merge table, final vocab (w, f, sym)). */
  private def trainLoop(docs: DataFrame,
                        merges: Int): (DataFrame, DataFrame) = {
    require(merges >= 1)
    var vocab = initVocab(docs).localCheckpoint(true)
    val rounds = (1 to merges).map { r =>
      val best = vocab
        .select(col("f"), explode(pairKeys(col("sym"))).as("pk"))
        .groupBy("pk").agg(sum("f").as("cnt"))
        .orderBy(col("cnt").desc, col("pk").asc).limit(1)
        .localCheckpoint(true) // 1 row; reused by the rewrite AND the report
      // Loud-failure contract (the connectedComponents discipline): if no
      // adjacent pairs remain — `merges` exceeds what the corpus supports
      // — the argmax is EMPTY and the crossJoin below would silently wipe
      // the whole vocab, collapsing every later round and tokenizeTrained
      // to empty tables (ADVICE r8). Cheap: `best` is localCheckpointed.
      if (best.isEmpty) throw new IllegalStateException(
        s"BPE round $r: no adjacent symbol pairs remain — the corpus " +
          s"supports only ${r - 1} merges; lower `merges`")
      vocab = vocab.crossJoin(broadcast(best))
        .select(col("w"), col("f"),
          expr("replace(sym, pk, replace(pk, '||', ''))").as("sym"))
        .localCheckpoint(true) // cut the nested replace-chain lineage
      val stats = vocab.agg(
        count(lit(1)).as("vocab_words"),
        sum(col("f") * size(syms(col("sym")))).as("symbols_after"))
      best.select(lit(r.toLong).as("round"), col("pk").as("merge_pair"),
          col("cnt").as("pair_count"))
        .crossJoin(stats)
    }
    (rounds.reduce(_.union(_)), vocab)
  }

  /** TOKENIZE with the trained vocab — the apply half of the train →
    * apply loop every tokenizer deployment runs: train `merges` rounds,
    * then map every trainable corpus word to its merged symbol sequence
    * by one keyed join on the word (the vocab is |distinct words| rows
    * — far below broadcast budget for natural-language vocabularies;
    * Spark's own threshold decides), and report per-document exact
    * totals: (doc_id, n_words, n_chars, n_tokens). n_tokens/n_chars is
    * the compression the merges bought — the number a tokenizer
    * deployment tracks per corpus slice.
    */
  /** Train and PERSIST the tokenizer artifacts — the artifact half of
    * the train → write → apply lifecycle every tokenizer deployment
    * runs (the [[graft.ops.DedupOps.writeMinhashIndex]] persisted-
    * artifact discipline): the merge table under `path`/merges (the
    * audit/provenance record) and the final word → merged-symbols map
    * under `path`/vocab (the apply-side join artifact, |distinct
    * words| rows — parquet-tiny for natural-language vocabularies).
    * Trained once per corpus snapshot; every later tokenization reads
    * the artifact instead of re-running the merge loop.
    */
  def trainWriteVocab(docs: DataFrame, merges: Int, path: String): Unit = {
    val (mergeTable, vocab) = trainLoop(docs, merges)
    mergeTable.write.mode("overwrite").parquet(path + "/merges")
    vocab.select("w", "sym").write.mode("overwrite").parquet(path + "/vocab")
  }

  /** Tokenize with a PERSISTED vocab ([[trainWriteVocab]]) — apply
    * without retraining: one keyed join from word instances to the
    * stored merged-symbol map (Spark's own broadcast threshold
    * decides the join strategy). Out-of-vocabulary words — absent
    * from the training corpus — fall back to the character-level
    * initial encoding (every real BPE tokenizer's byte/char
    * fallback), contributing length(w) tokens each, and are counted
    * per document. Output: (doc_id, n_words, n_chars, n_tokens,
    * n_oov).
    */
  def tokenizeWithVocab(docs: DataFrame, path: String): DataFrame = {
    val vocab = Tables.parquet(docs.sparkSession, path + "/vocab")
    docs.select(col("doc_id"),
        explode(split(lower(col("text")), TextOps.WsRegex)).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .join(vocab, Seq("w"), "left")
      .select(col("doc_id"), col("w"),
        when(col("sym").isNull, 1L).otherwise(0L).as("oov"),
        coalesce(col("sym"),
          regexp_replace(col("w"), "(.)", "|$1|")).as("sym"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_words"),
        sum(length(col("w"))).as("n_chars"),
        sum(size(syms(col("sym")))).cast("long").as("n_tokens"),
        sum(col("oov")).cast("long").as("n_oov"))
  }

  def tokenizeTrained(docs: DataFrame, merges: Int): DataFrame = {
    val vocab = trainLoop(docs, merges)._2.select("w", "sym")
    docs.select(col("doc_id"),
        explode(split(lower(col("text")), TextOps.WsRegex)).as("w"))
      .filter(col("w").rlike("^[a-z]+$") && length(col("w")) >= 2)
      .join(vocab, "w")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_words"),
        sum(length(col("w"))).as("n_chars"),
        sum(size(syms(col("sym")))).cast("long").as("n_tokens"))
  }

  /** Per-language tokenizer FERTILITY — the multilingual-tokenizer
    * quality number (tokens emitted per word; high fertility on a
    * language means the vocab under-serves it and its documents cost
    * more context budget): [[tokenizeTrained]]'s per-doc counts roll
    * up by the corpus `lang` tag, with fertility and chars-per-token
    * as exact integer ppm ratios. The report a team reads before
    * fixing per-language merge budgets.
    *
    * Scale shape: adds one doc-keyed broadcast-eligible join (lang
    * rides from the corpus) and a ≤|langs|-row rollup on top of the
    * tokenize plan — sums are exact int64, divisions floor-ppm, so
    * the DuckDB twin re-derives every value from the same unrolled
    * merge rounds.
    */
  def fertilityByLang(docs: DataFrame, merges: Int): DataFrame =
    tokenizeTrained(docs, merges)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_tokens").as("n_tokens"),
        sum("n_chars").as("sum_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
        expr("n_tokens * 1000000 div n_words").as("fertility_ppm"),
        expr("sum_chars * 1000000 div n_tokens").as("chars_per_tok_ppm"))
}
