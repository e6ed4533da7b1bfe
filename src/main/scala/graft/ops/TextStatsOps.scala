package graft.ops

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines (north star):
  * per-document quality stats, heuristic language ID, tokenizer counters,
  * and rolling-hash fingerprints.
  *
  * Everything is per-document expression work + one groupBy keyed on
  * doc_id — embarrassingly parallel, no wide intermediate state, scales
  * linearly. Determinism: all metrics are exact-integer counts; the only
  * doubles are divisions/affine combinations of those exact ints, which
  * IEEE 754 fixes identically in Spark and the DuckDB oracle.
  */
object TextStatsOps {

  /** Stopword lists for the heuristic language-ID scorer (tiny on purpose:
    * the operator demonstrates the dictionary-hit mechanism; production
    * would swap in real lists — the plan shape is identical).
    */
  val Stopwords: Seq[(String, String)] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans"),
    "es" -> Seq("el", "los", "las", "y", "es", "una"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2")
  ).flatMap { case (l, ws) => ws.map(l -> _) }

  private def toks(docs: DataFrame) = docs.select(col("doc_id"),
    explode(filter(split(col("text"), TextOps.WsRegex), x => x =!= "")).as("w"))

  /** Per-document quality stats: token/char counts, distinct ratio,
    * stopword ratio, and a [0,1] quality score
    * 0.4·min(n_tokens,100)/100 + 0.3·stop_ratio + 0.3·distinct_ratio.
    */
  def textStats(docs: DataFrame): DataFrame = {
    val en = Stopwords.filter(_._1 == "en").map(_._2)
    val agg = toks(docs).groupBy("doc_id").agg(
      count(lit(1)).as("n_tokens"),
      countDistinct(col("w")).as("n_distinct"),
      sum(length(col("w"))).as("tok_chars"),
      sum(when(col("w").isin(en: _*), 1L).otherwise(0L)).as("stop_cnt"))
    docs.select(col("doc_id"), length(col("text")).cast("long").as("n_chars_c"))
      .join(agg, "doc_id")
      .select(col("doc_id"), col("n_chars_c"), col("n_tokens"),
        col("n_distinct"),
        (col("tok_chars").cast("double") / col("n_tokens")).as("avg_tok_len"),
        (col("stop_cnt").cast("double") / col("n_tokens")).as("stop_ratio"),
        (least(col("n_tokens"), lit(100L)).cast("double") / 100.0 * 0.4 +
          col("stop_cnt").cast("double") / col("n_tokens") * 0.3 +
          col("n_distinct").cast("double") / col("n_tokens") * 0.3)
          .as("quality"))
  }

  /** Heuristic language ID: count stopword hits per candidate language,
    * pick the argmax (ties by language code asc); docs with zero hits in
    * every language get 'und'. Output keeps the labeled lang for audit.
    */
  def langId(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val stop = broadcast(Stopwords.toDF("cand", "w"))
    val hits = toks(docs).join(stop, "w")
      .groupBy("doc_id", "cand").agg(count(lit(1)).as("hits"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("hits").desc, col("cand").asc)
    val best = hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("doc_id"), col("cand"), col("hits"))
    docs.select(col("doc_id"), col("lang")).join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("cand"), lit("und")).as("pred_lang"),
        coalesce(col("hits"), lit(0L)).as("hits"))
  }

  /** Tokenizer counters: whitespace tokens vs a BPE-ish pre-tokenizer
    * (letter runs | digit runs | single non-alnum) — the standard
    * byte-pair pre-split shape, counted per document.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(filter(split(col("text"), TextOps.WsRegex), x => x =!= ""))
        .cast("long").as("n_ws"),
      size(regexp_extract_all(col("text"),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long").as("n_bpe"))

  /** Top-k characteristic terms per document by tf·idf weighting, with
    * the idf factor rational instead of logarithmic:
    * weight = ((tf · 10^6) · N) / df evaluated in double, left to right.
    * Rationale: ln/log10 are libm calls whose last-ulp behavior differs
    * between engines, so a log-idf score could not be oracle-checked
    * bit-for-bit; a fixed IEEE expression over exact integer inputs is
    * engine-identical, preserves the ranking property that matters
    * (rarer term ⇒ larger weight, monotone in tf), and — unlike an
    * all-int64 form — cannot overflow at 10^10+ document corpora
    * (doubles carry the magnitude; tf·10^6·N as int64 wraps negative
    * near N·tf ≈ 10^13). Swap in log-idf for production ranking — the
    * plan shape (two keyed aggs + broadcast scalar + per-doc top-k) is
    * identical.
    *
    * Scale shape: tf agg keyed on (doc, term), df agg keyed on term, the
    * corpus size N rides in as a broadcast scalar, and the per-doc top-k
    * is WindowGroupLimit — nothing funnels to the driver.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val t = toks(docs)
    val tf = t.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val df = t.select("doc_id", "w").distinct()
      .groupBy("w").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("nd"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("weight").desc, col("w").asc)
    tf.join(df, "w").crossJoin(broadcast(n))
      .withColumn("weight",
        col("tf").cast("double") * 1000000.0 * col("nd") / col("df"))
      .select(col("doc_id"), col("w"), col("tf"), col("df"), col("weight"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** Deterministic "dirty" corpus for the scrubber: the fixture text is
    * synthetic prose with no PII-shaped tokens, so scrub targets are
    * appended reproducibly (same trick as DedupOps.dupCorpus): an email,
    * a URL and a numeric id derived from doc_id — both engines build the
    * identical corpus.
    */
  def dirtyCorpus(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(col("text"),
        lit(" contact u"), col("doc_id"), lit("@ex.com"),
        lit(" http://site/p"), col("doc_id"),
        lit(" id "), col("doc_id") * 7919L).as("text"))

  /** PII-style scrubbing — the text-cleaning stage of a training-data
    * pipeline: count and redact email addresses, URLs and digit runs
    * (emails first, then URLs, then leftover digit runs — order matters
    * because the earlier classes contain digits). Pure per-row expression
    * work, zero shuffle; patterns stay in the regex subset both engines
    * parse identically.
    */
  def scrub(docs: DataFrame): DataFrame = {
    val email = "[a-z0-9]+@[a-z0-9.]+"
    val url = "http://[^ ]+"
    val num = "[0-9]+"
    val cleaned = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), email, "<EMAIL>"),
        url, "<URL>"),
      num, "<NUM>")
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(email), lit(0)))
        .cast("long").as("n_email"),
      size(regexp_extract_all(regexp_replace(col("text"), email, ""),
        lit(url), lit(0))).cast("long").as("n_url"),
      size(regexp_extract_all(
        regexp_replace(regexp_replace(col("text"), email, ""), url, ""),
        lit(num), lit(0))).cast("long").as("n_num"),
      length(cleaned).cast("long").as("n_chars_clean"),
      md5(cleaned).as("clean_md5"))
  }

  /** Rolling 8-char-gram fingerprint: portable hash at every position;
    * emits the min-hash (bottom-1 sketch), an order-independent XOR fold,
    * and the gram count. Documents shorter than 8 chars yield no grams
    * and are excluded (deterministic in both engines — the native hasher
    * returns an empty array below k chars and explode drops it). The
    * char-gram hashes come from one native UTF-8 walk per document
    * (CharGramHash60) instead of an explode(sequence)+substring+hash
    * chain that allocated a gram string per character position; values
    * are bit-identical (spec + property test), oracle SQL unchanged.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.CharGramHash60(col("text"), 8)).as("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), min("g").as("fp_min"),
        expr("bit_xor(g)").as("fp_xor"))

  /** Corpus profile report: per (source, lang) doc counts and exact
    * token/char totals and ranges — the dataset card a curation run emits
    * before training. All-int64 aggregates (no double sums — those are
    * order-dependent and would not oracle-check); one map-side-combined
    * aggregation, output ~|sources|·|langs| rows at any corpus size.
    */
  def corpusReport(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("source"), col("lang"),
        size(filter(split(col("text"), TextOps.WsRegex), x => x =!= ""))
          .cast("long").as("n_tok"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("sum_tokens"),
        min("n_tok").as("min_tokens"),
        max("n_tok").as("max_tokens"),
        sum("n_chars").as("sum_chars"))

  /** Repetition signals — the Gopher/RefinedWeb-style duplicate-n-gram
    * quality filter: per doc, the fraction of word-bigram occurrences
    * taken by the single most repeated bigram (`top_frac`) and the
    * distinct/total bigram ratio (`distinct_frac`). Boilerplate and
    * looped text score high top_frac / low distinct_frac; a curation
    * pipeline thresholds on them. Two doc-keyed aggregations, bigrams
    * travel once; docs with fewer than two words yield no bigrams and
    * are excluded (deterministic in both engines). Both fractions are
    * IEEE divisions of exact int64 counts — engine-identical.
    */
  def repetitionStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(DedupOps.shingleArr(col("text"), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        sum("cnt").as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        max("cnt").as("top_cnt"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
        (col("top_cnt").cast("double") / col("n_bigrams")).as("top_frac"),
        (col("n_distinct").cast("double") / col("n_bigrams")).as("distinct_frac"))

  /** Bigram language-model quality score — the KenLM-style fluency
    * signal of CCNet/Gopher-class pipelines, self-trained: corpus bigram
    * counts are the model, and each document is scored by the average
    * conditional probability of its bigrams, p(w2|w1) = c(w1 w2)/c(w1 ·).
    * Natural text (whose bigrams follow the corpus distribution) scores
    * high; shuffled or out-of-domain text scores low.
    *
    * Probabilities are held as ppm integers — (c(w1 w2) · 10^6) div
    * c(w1 ·) — and summed exactly, NOT as log-prob doubles: transcendental
    * libm results and order-dependent float sums both diverge across
    * engines, while integer arithmetic is bit-identical on any partition
    * layout and in the DuckDB twin (the suite-wide determinism contract).
    * Output per doc with ≥1 bigram: (doc_id, n_bigrams, lm_sum,
    * lm_avg_ppm); sub-2-token docs have no bigram evidence and are
    * excluded (deterministic in both engines).
    *
    * Scale shape: one doc-keyed bigram-count agg (the persisted frame —
    * `persist=false` for composing callers, the dedupBloomPrefilter
    * contract), two map-side-combined global count aggs derived from it,
    * two equi-joins keyed on gram/prefix strings, one final doc-keyed
    * agg. ANSI headroom: c(bigram)·10^6 must stay under 2^63 — any
    * single bigram repeated < 9·10^12 times, far past a 100 TB corpus's
    * token count; breach throws, never wraps. String gram keys follow
    * the TF-IDF precedent; at extreme vocab, dictionary-encode first.
    */
  def lmScore(docs: DataFrame, scale: Long = 1000000L,
              persist: Boolean = true): DataFrame = {
    val db = docs.select(col("doc_id"),
        explode(DedupOps.shingleArr(col("text"), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
    val kept = if (persist)
      db.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else db
    val cb = kept.groupBy("g").agg(sum("cnt").as("cb"))
    val cp = kept.groupBy("w1").agg(sum("cnt").as("cp"))
    kept.join(cb, "g").join(cp, "w1")
      .select(col("doc_id"), col("cnt"),
        expr(s"(cb * ${scale}L) div cp").as("p_ppm"))
      .groupBy("doc_id").agg(
        sum("cnt").as("n_bigrams"),
        sum(col("cnt") * col("p_ppm")).as("lm_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("lm_sum"),
        expr("lm_sum div n_bigrams").as("lm_avg_ppm"))
  }

  /** Train-then-apply linear quality/language classifier — the fastText
    * shape every curation pipeline runs (score each document by a sum of
    * per-token weights from a trained table, threshold, keep/label):
    * binary task "is the document `posLang`", trained on the corpus's own
    * labels. Per-token weight = smoothed class-probability DIFFERENCE in
    * ppm, `((c_pos+1)·10^6) div (tot_pos+V) − ((c_neg+1)·10^6) div
    * (tot_neg+V)` — the additive log-free stand-in for NB log-odds,
    * chosen deliberately: int64 weights make the scorer's document sums
    * order-independent and the DuckDB oracle bit-exact, where float log
    * sums would be partition-order-dependent. Output: the training-set
    * confusion rollup (lang, pred, n_docs, sum_score).
    *
    * Scale shape: one token-keyed count agg (map-side combined), one
    * token-keyed join of tokens→weights (vocab-sized right side —
    * broadcastable when the vocab fits, AQE-skew-handled otherwise;
    * stopword keys are the classic skew case), one doc-keyed sum, and a
    * tiny final rollup. Docs with no alphabetic token never enter the
    * scorer and are absent by contract.
    */
  /** Lowercased alphabetic token stream (doc_id, lang, w) — the shared
    * tokenization of the classifier train and apply halves.
    */
  private def alphaToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), TextOps.WsRegex)).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))

  /** Trained per-token weight table (w, wt) — see
    * [[linearClassifierApply]] for the weight formula and the log-free
    * rationale.
    */
  def classifierWeights(docs: DataFrame,
                        posLang: String = "en"): DataFrame = {
    val cnt = alphaToks(docs).groupBy("w").agg(
      sum(when(col("lang") === posLang, 1L).otherwise(0L)).as("cpos"),
      sum(when(col("lang") =!= posLang, 1L).otherwise(0L)).as("cneg"))
    val tot = cnt.agg(sum("cpos").as("tpos"), sum("cneg").as("tneg"),
      count(lit(1)).as("vocab"))
    cnt.crossJoin(broadcast(tot))
      .select(col("w"),
        (expr("((cpos + 1) * 1000000) div (tpos + vocab)") -
          expr("((cneg + 1) * 1000000) div (tneg + vocab)")).as("wt"))
  }

  def linearClassifierApply(docs: DataFrame,
                            posLang: String = "en"): DataFrame = {
    val tk = alphaToks(docs)
    val wts = classifierWeights(docs, posLang)
    tk.join(wts, "w")
      .groupBy("doc_id", "lang").agg(sum("wt").as("score"))
      .select(col("lang"),
        when(col("score") > 0, posLang).otherwise("other").as("pred"),
        col("score"))
      .groupBy("lang", "pred")
      .agg(count(lit(1)).as("n_docs"), sum("score").as("sum_score"))
  }

  /** Persist the trained classifier weights — the model artifact half
    * of the persisted-artifact discipline (the classifier twin of the
    * BPE vocab / MinHash index writes): one (w, wt) parquet per
    * training snapshot, applied to any later corpus without retraining.
    */
  def trainWriteClassifier(docs: DataFrame, path: String,
                           posLang: String = "en"): Unit =
    classifierWeights(docs, posLang)
      .write.mode("overwrite").parquet(path + "/weights")

  /** Score a corpus against PERSISTED classifier weights — production
    * inference: tokens left-join the weight table; out-of-vocabulary
    * tokens contribute weight 0 and are counted (`n_oov` — the drift
    * signal that tells a pipeline the model needs retraining). Output
    * per document: (doc_id, lang, n_toks, n_oov, score, pred).
    *
    * Scale shape: one token-keyed join against a vocab-sized weight
    * table (broadcastable when it fits) + one doc-keyed agg — the
    * arrivals never shuffle twice. Unlike [[linearClassifierApply]]
    * (which trains in-plan), the weight read is O(vocab), not
    * O(training corpus) — the point of persisting.
    */
  def scoreWithClassifier(docs: DataFrame, path: String,
                          posLang: String = "en"): DataFrame = {
    val wts = Tables.parquet(docs.sparkSession, path + "/weights")
    alphaToks(docs).join(wts, Seq("w"), "left")
      .groupBy("doc_id", "lang").agg(
        count(lit(1)).as("n_toks"),
        sum(when(col("wt").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("wt"), lit(0L))).as("score"))
      .select(col("doc_id"), col("lang"), col("n_toks"), col("n_oov"),
        col("score"),
        when(col("score") > 0, posLang).otherwise("other").as("pred"))
  }

  /** Persist the trained bigram LM — the model-artifact half of the
    * fluency scorer ([[lmScore]] trains in-plan every run): one
    * (g, p_ppm) parquet per training snapshot, p_ppm the same
    * integer-ppm conditional `(c(bigram)·10^6) div c(prefix)` (log-free
    * by design — int64 weights keep the scorer order-independent and
    * the oracle bit-exact). Scale shape: two gram-keyed aggs (map-side
    * combined) + one prefix join, artifact O(vocab²-bounded bigram
    * vocab), written once; scoring never re-reads the training corpus.
    */
  def trainWriteLm(docs: DataFrame, path: String,
                   scale: Long = 1000000L): Unit = {
    val grams = docs.select(
      explode(DedupOps.shingleArr(col("text"), 2)).as("g"))
    val cb = grams.groupBy("g").agg(count(lit(1)).as("cb"))
      .withColumn("w1", substring_index(col("g"), " ", 1))
    val cp = cb.groupBy("w1").agg(sum("cb").as("cp"))
    cb.join(cp, "w1")
      .select(col("g"), expr(s"(cb * ${scale}L) div cp").as("p_ppm"))
      .write.mode("overwrite").parquet(path + "/bigrams")
  }

  /** Score documents against the PERSISTED bigram LM — production
    * fluency scoring: per-doc bigram counts left-join the model table;
    * bigrams the model never saw contribute 0 and are counted
    * (`n_oov`, the domain-drift signal that triggers retraining).
    * Output per document: (doc_id, n_bigrams, n_oov, lm_sum,
    * lm_avg_ppm); documents under two words have no bigrams and are
    * absent by the [[lmScore]] contract. Scale shape: one gram-keyed
    * join against the model (broadcastable when the bigram vocab
    * fits), one doc-keyed agg — O(arrivals + model), never
    * O(training corpus).
    */
  def scoreWithLm(docs: DataFrame, path: String): DataFrame = {
    val model = Tables.parquet(docs.sparkSession, path + "/bigrams")
    docs.select(col("doc_id"),
        explode(DedupOps.shingleArr(col("text"), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .join(model, Seq("g"), "left")
      .groupBy("doc_id").agg(
        sum("cnt").as("n_bigrams"),
        sum(when(col("p_ppm").isNull, col("cnt")).otherwise(0L))
          .as("n_oov"),
        sum(col("cnt") * coalesce(col("p_ppm"), lit(0L))).as("lm_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
        col("lm_sum"), expr("lm_sum div n_bigrams").as("lm_avg_ppm"))
  }

  /** Code-vs-prose detection — the router every mixed web corpus needs
    * before language-specific curation (code wants different dedup,
    * quality, and tokenizer settings than prose): per document, the
    * code-symbol character share (braces/brackets/semicolons/operators
    * in ppm of all chars), the indented-line share (4-space or tab
    * starts, in ppm of lines), and the fenced-block count — thresholds
    * on any of the three route to 'code'. Pure per-row codegen
    * expression work, no shuffle at all; thresholds are explicit
    * parameters so the oracle shares them.
    */
  def codeDetect(docs: DataFrame, symPpmThr: Long = 30000L,
                 indentPpmThr: Long = 200000L): DataFrame =
    docs.filter(col("text").isNotNull).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        (length(col("text")) - length(regexp_replace(col("text"),
          "[{}();=<>#\\[\\]]", ""))).cast("long").as("n_sym"),
        size(split(col("text"), "\n", -1)).cast("long").as("n_lines"),
        size(filter(split(col("text"), "\n", -1),
          l => l.rlike("^(    |\t)"))).cast("long").as("n_indent"),
        size(regexp_extract_all(col("text"), lit("```"), lit(0)))
          .cast("long").as("n_fences"))
      .select(col("doc_id"), col("n_chars"), col("n_sym"),
        expr("n_sym * 1000000 div greatest(n_chars, 1)").as("sym_ppm"),
        col("n_lines"), col("n_indent"),
        expr("n_indent * 1000000 div greatest(n_lines, 1)")
          .as("indent_ppm"),
        col("n_fences"))
      .withColumn("verdict",
        when(col("sym_ppm") >= symPpmThr ||
          col("indent_ppm") >= indentPpmThr ||
          col("n_fences") > 0, "code").otherwise("prose"))

  /** Richer PII fixture than [[dirtyCorpus]]: appends a phone number, an
    * IPv4 address, and a 16-digit card-shaped number (all derived from
    * doc_id, closed-form shared with the oracle) to every document.
    */
  def piiCorpus(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull).select(col("doc_id"), col("lang"),
      concat(col("text"),
        lit(" call +1-555-"), lpad(col("doc_id") % 10000, 4, "0"),
        lit(" host 10."), col("doc_id") % 256, lit(".0."),
        col("doc_id") % 100,
        lit(" card 4111 2222 3333 "), lpad(col("doc_id") % 10000, 4, "0"),
        lit(" mail u"), col("doc_id"), lit("@ex.org")).as("text"))

  /** Corpus-level PII prevalence report — the audit a pipeline runs
    * BEFORE deciding scrub policy (where [[scrub]] is the enforcement
    * half): per (lang, pii class) match counts, affected-document
    * counts, and affected share in ppm of that language's documents.
    * Classes: email, phone (+N-NNN-NNNN shapes), IPv4 dotted quad,
    * card-shaped 4×4 digit groups. Patterns stay in the common
    * Java-regex/RE2 subset (no lookaround, no backreferences) so both
    * engines match identically; matching order is class-independent
    * (each class counted on the raw text — unlike [[scrub]]'s
    * sequential redaction, a report must not let one class mask
    * another). Pure per-row expression work into one tiny rollup.
    */
  def piiReport(docs: DataFrame): DataFrame = {
    val classes = Seq(
      "email" -> "[a-z0-9]+@[a-z0-9.]+",
      "phone" -> "\\+[0-9]+-[0-9]{3}-[0-9]{4}",
      "ipv4" -> "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}",
      "card" -> "[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}")
    val perDoc = docs.select(col("lang") +: classes.map { case (nm, re) =>
      size(regexp_extract_all(col("text"), lit(re), lit(0)))
        .cast("long").as(s"n_$nm")
    }: _*)
    val aggs = classes.map { case (nm, _) =>
      struct(sum(col(s"n_$nm")).as("m"),
        sum(when(col(s"n_$nm") > 0, 1L).otherwise(0L)).as("d"))
        .as(s"s_$nm")
    }
    val rolled = perDoc.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), aggs: _*)
    rolled.select(explode(array(classes.map { case (nm, _) =>
        struct(lit(nm).as("pii_type"), col("n_docs"),
          col(s"s_$nm.m").as("n_matches"), col(s"s_$nm.d").as("n_docs_hit"))
      }: _*)).as("e"), col("lang"))
      .select(col("lang"), col("e.pii_type"), col("e.n_matches"),
        col("e.n_docs_hit"),
        expr("e.n_docs_hit * 1000000 div e.n_docs").as("hit_ppm"))
  }
}
