package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a training-data pipeline runs after cleaning
  * and dedup: benchmark decontamination, sequence-packing layout,
  * vocabulary coverage, weighted sampling, and target-mix resampling. All
  * follow the repo's scale rules — no collect, candidate work bucketed or
  * broadcast, integer-exact arithmetic so every result is
  * DuckDB-oracle-checkable bit-for-bit.
  */
object CurationOps {

  /** Deterministic synthetic HTML wrapper around the documents corpus —
    * the [[htmlExtract]] fixture contract, shared closed-form with the
    * DuckDB oracle: title/style boilerplate in the head, a script block
    * (with markup-looking string content and entities), nav chrome, the
    * document text in the main div, an entity-bearing tail paragraph,
    * and a footer. Null-text rows are dropped (the corpus's malformed
    * tier).
    */
  def htmlWrap(docs: DataFrame): DataFrame = htmlWrap(docs, Nil)

  /** [[htmlWrap]] carrying extra source columns through the projection
    * (e.g. `lang` for the crawl pipeline) — a ride-along, never a
    * rejoin.
    */
  def htmlWrap(docs: DataFrame, carry: Seq[String]): DataFrame =
    docs.filter(col("text").isNotNull).select(
      col("doc_id") +: carry.map(col) :+ htmlOf: _*)

  private def htmlOf: Column = concat(
      lit("<html><head><title>Doc "), col("doc_id"),
      lit("</title><style>body { margin: 0; } p > a { color: #00f; }" +
        "</style></head><body><script type=\"text/javascript\">var x = 1;" +
        " if (x &lt; 2 && x &gt; 0) { emit(\"<p>not text</p>\"); }" +
        "</script><nav><ul><li>Home</li><li>About</li></ul></nav>" +
        "<div id=\"main\"><h1>Doc "), col("doc_id"),
      lit("</h1><p>"), col("text"),
      lit("</p><p>tail &amp; more&nbsp;text &#39;quoted&#39;</p></div>" +
        "<footer>fin</footer></body></html>")).as("html")

  /** HTML → main-text extraction — the web-crawl front half of curation,
    * ahead of the quality tier ([[graft.ops.TextStatsOps]] composes
    * downstream on `main_text`). Pure per-row expression work (regex +
    * literal replaces, whole-stage codegen, zero shuffle):
    *
    *  1. `<script>`/`<style>` blocks are dropped WITH their content
    *     (lazy `.*?` spans, case-insensitive, DOTALL) — boilerplate
    *     code is not text;
    *  2. every remaining tag `<[^>]*>` becomes a space (the naive-HTML
    *     contract, stated plainly: an unescaped literal `>` inside an
    *     attribute value truncates that tag early — both engines share
    *     the behavior, and real crawl extractors accept the same trade);
    *  3. the common entities decode (`&nbsp; &lt; &gt; &quot; &#39;`,
    *     then `&amp;` LAST so `&amp;lt;` single-decodes to `&lt;`, not
    *     double to `<`);
    *  4. whitespace collapses to single spaces, trimmed.
    *
    * Output: (doc_id, main_text, n_words, n_chars) — exact counts over
    * the extracted text.
    */
  def htmlExtract(pages: DataFrame): DataFrame = htmlExtract(pages, Nil)

  /** [[htmlExtract]] carrying extra input columns through (the
    * [[htmlWrap]] carry twin).
    */
  def htmlExtract(pages: DataFrame, carry: Seq[String]): DataFrame = {
    val noScript = regexp_replace(col("html"),
      "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "(?s)<[^>]*>", " ")
    val decoded = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
        "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    val main = trim(regexp_replace(decoded, "\\s+", " "))
    pages.select(col("doc_id") +: carry.map(col) :+ main.as("main_text"): _*)
      .select(col("doc_id") +: carry.map(col) :+ col("main_text") :+
        when(length(col("main_text")) === 0, 0L)
          .otherwise(size(split(col("main_text"), " ")).cast("long"))
          .as("n_words") :+
        length(col("main_text")).cast("long").as("n_chars"): _*)
  }

  /** Deterministic synthetic URL per document — the [[urlNormalize]]
    * fixture contract, shared closed-form with the oracle. Exercises
    * every normalization rule: mixed-case scheme/host, scheme-default
    * and non-default ports, trailing path slashes, tracking params
    * (utm_*, fbclid) interleaved with real ones, and fragments. Only
    * 7 hosts × small cyclic groups, so canonicalization produces REAL
    * collisions for the rollup.
    */
  def urlWrap(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), concat(
      when(col("doc_id") % 2 === 0, "http").otherwise("HTTPS"), lit("://"),
      lit("WWW.Site"), col("doc_id") % 7, lit(".Example.COM"),
      when(col("doc_id") % 3 === 0,
          when(col("doc_id") % 2 === 0, ":80").otherwise(":443"))
        .when(col("doc_id") % 5 === 0, lit(":8080")).otherwise(lit("")),
      lit("/A/b"), col("doc_id") % 5,
      when(col("doc_id") % 4 === 0, "/").otherwise(lit("")),
      lit("?utm_source=feed&page="), col("doc_id") % 3,
      lit("&fbclid=zzz&sort=asc#sec"), col("doc_id") % 2).as("url"))

  /** URL canonicalization — the crawl-dedup front half ahead of exact/
    * near dedup (two crawls of one page differ only in chrome: case,
    * default ports, tracking params, fragments). Pure per-row
    * expression work, zero shuffle:
    *
    *  1. scheme and host lowercase (path/query case-SIGNIFICANT, kept);
    *  2. scheme-default ports dropped (:80 for http, :443 for https;
    *     other ports kept);
    *  3. trailing path slashes stripped (bare "/" collapses to none —
    *     the aggressive variant, stated plainly);
    *  4. tracking params (utm_*, fbclid) dropped, remaining params kept
    *     IN ORDER (no reorder: param order can be semantic);
    *  5. fragment dropped.
    *
    * Output: (doc_id, url, url_norm, domain) — domain is the
    * lowercased host minus one leading "www." label (the plain-domain
    * contract; registrable-domain/eTLD+1 needs the public-suffix list,
    * out of scope and stated so).
    */
  def urlNormalize(pages: DataFrame): DataFrame = {
    val scheme = lower(regexp_extract(col("url"), "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth = lower(regexp_extract(col("url"), "^[^:]+://([^/?#]*)", 1))
    val host = when(scheme === "http", regexp_replace(auth, ":80$", ""))
      .when(scheme === "https", regexp_replace(auth, ":443$", ""))
      .otherwise(auth)
    val path0 = regexp_extract(col("url"), "^[^:]+://[^/?#]*([^?#]*)", 1)
    val path = regexp_replace(path0, "/+$", "")
    val query = regexp_extract(col("url"), "\\?([^#]*)", 1)
    val keptQ = array_join(
      filter(split(query, "&"),
        p => !p.rlike("^(utm_[^=]*|fbclid)=") && p =!= ""), "&")
    val norm = concat(scheme, lit("://"), host, path,
      when(keptQ === "", lit("")).otherwise(concat(lit("?"), keptQ)))
    // domain: port stripped (a domain rollup groups by host, and
    // non-default ports survive normalization), then one www. label.
    pages.select(col("doc_id"), col("url"), norm.as("url_norm"),
      regexp_replace(regexp_replace(host, ":[0-9]+$", ""), "^www\\.", "")
        .as("domain"))
  }

  /** Per-domain crawl rollup over canonical URLs: page count, distinct
    * canonical URLs (the recrawl-collapse ratio every crawl pipeline
    * monitors), distinct paths. One domain-keyed exchange.
    */
  def domainStats(normalized: DataFrame): DataFrame =
    normalized.groupBy("domain").agg(
      count(lit(1)).as("n_pages"),
      countDistinct(col("url_norm")).as("n_canonical"),
      countDistinct(regexp_extract(col("url_norm"),
        "^[^:]+://[^/?#]*([^?#]*)", 1)).as("n_paths"))

  /** Benchmark decontamination (the GPT-3/PaLM n-gram protocol): flag every
    * training document sharing at least one word k-gram with a held-out
    * benchmark. Returns (doc_id, n_hits) for contaminated docs only —
    * n_hits = distinct contaminated k-grams in that doc.
    *
    * Scale shape: the benchmark side is small by definition, so its
    * distinct k-gram hash set is BROADCAST — the training corpus never
    * shuffles. Matches (a sliver) are the only rows that move, into the
    * per-doc distinct-count agg. Shingles travel as 60-bit portable
    * hashes, never strings. For a benchmark too large to broadcast (a
    * full eval-suite union: 10^8+ grams ≳ executor broadcast budget),
    * pass broadcastBench=false for a hash-join on the gram hashes — the
    * train side then shuffles (doc_id, h) pairs, still never text.
    */
  def decontaminate(train: DataFrame, benchmark: DataFrame,
                    k: Int = 8, broadcastBench: Boolean = true): DataFrame = {
    val bsh = benchmark.filter(col("text").isNotNull)
      .select(explode(graft.functions.KGramHash60(col("text"), k)).as("h"))
      .distinct()
    train.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(graft.functions.KGramHash60(col("text"), k)).as("h"))
      .join(if (broadcastBench) broadcast(bsh) else bsh, "h")
      .groupBy("doc_id")
      .agg(countDistinct("h").as("n_hits"))
  }

  /** Overlapping token-window chunking — the RAG / context-window prep
    * stage: each document's token stream is cut into windows of `window`
    * tokens whose starts advance by `stride` (< window ⇒ overlapping
    * chunks, the standard retrieval-chunking shape). Emits one row per
    * chunk: (doc_id, chunk_idx, start_tok, n_tok, chunk_md5) — the md5 is
    * over the space-rejoined window, keeping the result compact while
    * still proving the exact chunk text (a one-token slip breaks it).
    * Every start < n_tokens is emitted, so the last window may be short;
    * empty documents yield no chunks. Pure per-document expression work
    * (one generate + projection, no shuffle at all until a consumer
    * aggregates) — embarrassingly parallel at any corpus size.
    */
  def chunkOverlap(docs: DataFrame, window: Int = 64,
                   stride: Int = 48): DataFrame = {
    require(window >= 1 && stride >= 1, s"bad window/stride $window/$stride")
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(split(col("text"), TextOps.WsRegex), x => x =!= "").as("w"))
      .select(col("doc_id"), col("w"),
        explode(when(size(col("w")) > 0,
            sequence(lit(0), size(col("w")) - 1, lit(stride)))
          .otherwise(array().cast("array<int>"))).as("start"))
      .select(col("doc_id"),
        (col("start") / stride).cast("long").as("chunk_idx"),
        col("start").cast("long").as("start_tok"),
        size(slice(col("w"), col("start") + 1, lit(window)))
          .cast("long").as("n_tok"),
        md5(array_join(slice(col("w"), col("start") + 1, lit(window)), " "))
          .as("chunk_md5"))
  }

  /** Concatenate-and-chunk packing layout (the GPT-style pretraining
    * sequence packer): documents are laid out in doc_id order as one
    * global token stream cut into fixed `budget`-token context windows.
    * Per doc: its token count, start offset in the stream, and the first /
    * last window it lands in (a doc may straddle windows). The layout is a
    * pure function of (order, token counts) — reproducible across engines
    * and re-runs, so shard assignment never silently changes.
    *
    * Scale shape: the prefix sum is TWO-LEVEL, never a single-partition
    * window. Documents are coarsened into order-preserving id buckets
    * (`doc_id div bucketSpan`); per-bucket token totals (one tiny agg)
    * get a driver-scale cumulative offset, broadcast back; each bucket
    * then computes its in-bucket prefix sums in parallel under a window
    * PARTITIONED by bucket. The only single-partition work is the
    * cumulative sum over ~|corpus|/bucketSpan bucket rows (10^6 rows at a
    * 10^12-doc corpus with the default span). No text moves: everything
    * past the scan is (doc_id, n_tok) pairs, and that tiny projection is
    * persisted so its two consumers (bucket totals + the layout join)
    * tokenize the corpus once, under the same caller-frees cache contract
    * as paragraphDedup. Rows with a NULL doc_id or NULL text are
    * excluded up front (a null id has no place in a total order; int64
    * `div` is order-preserving for all non-null ids, negative included).
    */
  def packLayout(docs: DataFrame, budget: Long = 256L,
                 bucketSpan: Long = 1L << 20): DataFrame = {
    val t = docs.filter(col("text").isNotNull && col("doc_id").isNotNull)
      .select(col("doc_id"),
        size(filter(split(col("text"), TextOps.WsRegex), x => x =!= ""))
          .cast("long").as("n_tok"))
      .withColumn("b", expr(s"doc_id div $bucketSpan"))
      .persist()
    val bw = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    val boffs = t.groupBy("b").agg(sum("n_tok").as("bt"))
      .withColumn("boff", coalesce(sum("bt").over(bw), lit(0L)))
      .select("b", "boff")
    val iw = Window.partitionBy("b").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t.join(broadcast(boffs), "b")
      .withColumn("start_off",
        col("boff") + coalesce(sum("n_tok").over(iw), lit(0L)))
      .select(col("doc_id"), col("n_tok"), col("start_off"),
        expr(s"start_off div $budget").as("chunk_first"),
        // greatest() pins zero-token docs to their start window instead of
        // an off-by-one window before it (start_off + n_tok - 1 < start_off).
        expr(s"greatest(start_off, start_off + n_tok - 1) div $budget")
          .as("chunk_last"))
      .withColumn("n_chunks", col("chunk_last") - col("chunk_first") + lit(1L))
  }

  /** Vocabulary coverage / OOV rate: build the top-`vocabSize` corpus
    * vocabulary (by occurrence count, ties broken by word ascending —
    * deterministic in both engines), then score every document by the
    * fraction of its token occurrences outside that vocabulary. The
    * training-data use: estimating tokenizer fit / UNK pressure before
    * committing a vocab.
    *
    * Scale shape: the vocabulary derives from a word-keyed count agg
    * (map-side combined — the wordcount plan) plus a global top-k
    * (TakeOrderedAndProject-able, k rows to the driver side of the plan,
    * broadcast back). The per-doc pass is explode + broadcast join +
    * one doc-keyed agg; token strings never hash-shuffle. OOV fraction is
    * one IEEE division of exact int64 counts — engine-identical.
    */
  def vocabCoverage(docs: DataFrame, vocabSize: Int = 10): DataFrame = {
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(filter(split(col("text"), TextOps.WsRegex), x => x =!= "")).as("w"))
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc).limit(vocabSize)
      .select("w").withColumn("in_vocab", lit(1L))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        coalesce(sum("in_vocab"), lit(0L)).as("n_in_vocab"))
      .select(col("doc_id"), col("n_tok"), col("n_in_vocab"),
        ((col("n_tok") - col("n_in_vocab")).cast("double") / col("n_tok"))
          .as("oov_frac"))
  }

  /** Inverted-index build (search/RAG index prep): per term, document
    * frequency and the first `cap` postings in doc_id order — the
    * capped posting list a retrieval layer consumes. The cap is the
    * scale guard (ngram's `maxDf` analogue): a stop word's full posting
    * list is O(corpus) and belongs in a dedicated store, not an index
    * row; `df` still reports the TRUE frequency so the consumer knows
    * the list was truncated. One distinct + one term-keyed agg; the
    * sort is per-group over ≤ df elements with only (term, doc_id)
    * pairs ever shuffling.
    */
  def invertedIndex(docs: DataFrame, cap: Int = 20): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(filter(split(col("text"), TextOps.WsRegex), x => x =!= ""))
          .as("term"))
      .distinct()
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        array_join(transform(
            slice(array_sort(collect_list(col("doc_id"))), 1, cap),
            x => x.cast("string")), ",")
          .as("postings"))

  /** Exact phrase search over a POSITIONAL posting derivation — the
    * retrieval primitive bag-of-words indexes cannot answer ("table
    * value part" as a contiguous run, not three scattered terms). The
    * classic offset trick keeps it one join + one agg: every token that
    * matches ANY phrase term produces a candidate anchored at
    * `start = position − term_index`; a start with ALL `len` term slots
    * filled is a real occurrence (each slot can only be filled by the
    * one token at that exact position, so plain count ≡ slot count).
    * Scale shape: the phrase-term table is tiny and broadcast, so the
    * corpus moves only tokens matching query terms (the BM25 pre-drop
    * discipline); one (doc, phrase, start)-keyed agg + one phrase
    * rollup. Output per phrase: matching-doc count and total
    * occurrences; phrases with no hit are absent (inner-join contract,
    * shared with the oracle).
    */
  def phraseSearch(docs: DataFrame, phrases: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = phrases.flatMap { ph =>
      val ws = ph.split(" ").toSeq
      ws.zipWithIndex.map { case (w, i) => (ph, i.toLong, w, ws.length.toLong) }
    }.toDF("phrase", "ti", "term", "plen")
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(filter(split(col("text"), TextOps.WsRegex),
          x => x =!= "")).as(Seq("p", "term")))
    toks.join(broadcast(terms), "term")
      .groupBy(col("doc_id"), col("phrase"), col("plen"),
        (col("p") - col("ti")).as("start"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") === col("plen"))
      .groupBy("phrase")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_occ"))
  }

  /** BM25-family ranked retrieval over token postings: each query scores
    * candidate documents by Σ_terms idf_ppm · tf·(K1+1) / (tf + K1·(1 −
    * B + B·dl/avgdl)) and keeps the top-k per query. idf_ppm =
    * 10⁶·N/df is the repo's rational idf (no libm — the same monotone
    * per-term ordering as ln-idf); K1/B and K1+1 are written as the
    * literal doubles 1.2 / 0.75 / 2.2 on BOTH engines, never computed
    * (1.2 + 1.0 in IEEE is not the double literal 2.2). Per-term
    * scores sum in DECIMAL(28,6), so a document's score is
    * order-independent and oracle-exact.
    *
    * Scale shape: the query-term set is tiny and broadcast; joining it
    * into the postings drops every non-query term BEFORE anything
    * shuffles, so the corpus moves only its matching (term, doc)
    * postings — document text never leaves the scan. df and dl are
    * per-term / per-doc aggregates the index build already pays for.
    */
  def bm25TopK(docs: DataFrame, queries: Seq[(Long, String)],
               k: Int = 10): DataFrame = {
    val toks = bm25Toks(docs)
    val tf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val df = toks.select("doc_id", "w").distinct()
      .groupBy("w").agg(count(lit(1)).as("df"))
    // avgdl averages over INDEXED docs (≥1 token): mean(dl) = Σdl / |dl|.
    // Dividing by the full doc count would deflate avgdl whenever
    // null-text rows exist — nonstandard length normalization. nd (the
    // idf numerator) stays the corpus size.
    val stats = docs.agg(count(lit(1)).as("nd"))
      .crossJoin(toks.agg(count(lit(1)).as("ntok"),
        countDistinct(col("doc_id")).as("ndl")))
      .select(col("nd"), avgdlOf).as("avgdl_stats")
    bm25Score(tf, dl, df, stats, bm25QTerms(docs.sparkSession, queries), k)
  }

  /** The (doc_id, w, tf) postings aggregate of a corpus, pinned with an
    * eager localCheckpoint — the [[writeBm25Index]] tokenize-once
    * discipline for callers whose plan consumes the corpus tokenize in
    * MORE THAN ONE otherwise-unshared subtree ([[rankEval]]: the ranker
    * and the conjunctive truth set). Within a single ranker plan AQE
    * exchange reuse already dedups the identical tokenize subtrees, so
    * [[bm25TopK]] itself stays lazy (pinning it A/B'd flat-to-negative:
    * q_rank_bm25 1.41→1.38, q_rrf_fusion 1.33→1.50 same-host min-of-3).
    */
  private def bm25Postings(docs: DataFrame): DataFrame =
    bm25Toks(docs).groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)

  /** [[bm25TopK]] body over an already-pinned postings aggregate. Every
    * input to [[bm25Score]] is value-identical to the direct-from-toks
    * derivation: dl = Σ tf per doc ≡ token count per doc, df = one
    * postings row per (doc, w) so rows-per-term ≡ distinct docs per
    * term, ntok = Σ tf ≡ total tokens, ndl = distinct posting doc_ids ≡
    * docs with ≥ 1 token — all exact int64 aggregates (the
    * [[writeBm25Index]] equivalence argument).
    */
  private def bm25TopKFromPostings(docs: DataFrame, postings: DataFrame,
                                   queries: Seq[(Long, String)],
                                   k: Int): DataFrame = {
    val dl = postings.groupBy("doc_id").agg(sum("tf").as("dl"))
    val df = postings.groupBy("w").agg(count(lit(1)).as("df"))
    // avgdl over INDEXED docs, nd the corpus size — see [[bm25TopK]].
    val stats = docs.agg(count(lit(1)).as("nd"))
      .crossJoin(postings.agg(sum("tf").as("ntok"),
        countDistinct(col("doc_id")).as("ndl")))
      .select(col("nd"), avgdlOf).as("avgdl_stats")
    bm25Score(postings, dl, df, stats, bm25QTerms(docs.sparkSession, queries), k)
  }

  /** Tokenized (doc_id, w) postings stream shared by the BM25 builders. */
  private def bm25Toks(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(filter(split(col("text"), TextOps.WsRegex), x => x =!= ""))
          .as("w"))

  /** avgdl = ntok / ndl with the divisor floored at 1: an EMPTY corpus
    * or index has ndl = 0, and Spark-4 ANSI mode raises DIVIDE_BY_ZERO
    * even for DOUBLE division — the serve path must return empty, not
    * throw. For any nonempty corpus ndl ≥ 1 and the guard is identity,
    * so oracle parity is untouched.
    */
  private def avgdlOf: Column =
    (col("ntok").cast("double") /
      greatest(col("ndl"), lit(1L)).cast("double")).as("avgdl")

  /** Distinct (q_id, w) query-term pairs. */
  private def bm25QTerms(spark: org.apache.spark.sql.SparkSession,
                         queries: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    queries.toDF("q_id", "qtext")
      .select(col("q_id"),
        explode(filter(split(col("qtext"), TextOps.WsRegex), x => x =!= ""))
          .as("w"))
      .distinct()
  }

  /** Shared BM25 scoring tail: query-term-pruned postings × doc-length
    * × term df × corpus stats → DECIMAL-summed per-doc score, top-k per
    * query. DECIMAL addition is exact, so the score is independent of
    * both accumulation order and whether the inputs came from the
    * in-memory build ([[bm25TopK]]) or the persisted index
    * ([[bm25TopKIndexed]]) — the equality the persist spec pins.
    */
  private def bm25Score(tf: DataFrame, dl: DataFrame, dfT: DataFrame,
                        stats: DataFrame, qterms: DataFrame,
                        k: Int): DataFrame = {
    val idf = lit(1000000.0) * col("nd").cast("double") / col("df").cast("double")
    val term = idf * (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(1.0) - lit(0.75) +
          lit(0.75) * col("dl").cast("double") / col("avgdl")))
    val rank = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("doc_id"))
    tf.join(broadcast(qterms), Seq("w"))
      .join(broadcast(dfT.join(broadcast(qterms.select("w").distinct()), Seq("w"))
        .select("w", "df")), Seq("w"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("q_id"), col("doc_id"),
        term.cast(org.apache.spark.sql.types.DecimalType(28, 6)).as("t"))
      .groupBy("q_id", "doc_id")
      .agg(sum(col("t")).cast("double").as("score"))
      .withColumn("rnk", row_number().over(rank).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Persist the BM25 retrieval index for a corpus snapshot — the
    * persisted-artifact discipline (DedupOps.writeMinhashIndex) applied
    * to ranked retrieval. Four parquet tables under `path`:
    * `postings` (w, doc_id, tf) term-clustered by a repartition on w
    * (on a real lake: partition by hash-bucket of w so a query's terms
    * prune to their buckets), `doclen` (doc_id, dl), `termdf` (w, df),
    * and `stats` (nd, ntok, ndl — RAW counts, not the derived avgdl).
    * termdf and stats are stored as mergeable partials: appends write
    * more rows and the serve path re-aggregates, so index maintenance
    * is O(batch) with no read-modify-write cycle.
    */
  def writeBm25Index(docs: DataFrame, path: String): Unit =
    commitBm25Index(docs, path, SinkOps.CommitSpec(carryForward = false))

  /** Append one arrival batch to a persisted BM25 index — O(batch):
    * postings/doclen rows for the batch plus termdf/stats partials the
    * serve path merges. Batches must carry disjoint doc_ids (the
    * caller's contract, as with appendToMinhashIndex).
    */
  def appendToBm25Index(docs: DataFrame, path: String): Unit =
    commitBm25Index(docs, path, SinkOps.CommitSpec())

  /** The one body of [[writeBm25Index]] (a replacing commit) and
    * [[appendToBm25Index]] (an appending one): each index table is a
    * [[SinkOps.commitVersion]] table under `path`.
    */
  private def commitBm25Index(docs: DataFrame, path: String,
                              spec: SinkOps.CommitSpec): Unit = {
    // Every table is derivable from the (doc_id, w, tf) postings
    // aggregate: dl = Σ tf per doc, df = #postings rows per term,
    // ntok = Σ tf, ndl = #distinct doc_ids with postings. Pinning the
    // aggregated postings (far smaller than the exploded token stream,
    // whose persist A/B'd net-negative in r16) runs the tokenize +
    // explode + first aggregation ONCE instead of four times — the
    // other three tables are cheap re-aggregations of the cache. Values
    // are identical by construction (count of tokens ≡ sum of per-term
    // counts; postings carry one row per (doc_id, w)).
    val postings = bm25Toks(docs)
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      SinkOps.commitVersion(postings.repartition(col("w")),
        s"$path/postings", spec)
      SinkOps.commitVersion(postings.groupBy("doc_id").agg(sum("tf").as("dl")),
        s"$path/doclen", spec)
      SinkOps.commitVersion(postings.groupBy("w").agg(count(lit(1)).as("df")),
        s"$path/termdf", spec)
      SinkOps.commitVersion(docs.agg(count(lit(1)).as("nd"))
        .crossJoin(postings.agg(sum("tf").as("ntok"),
          countDistinct(col("doc_id")).as("ndl"))),
        s"$path/stats", spec)
    } finally { postings.unpersist(); () }
    ()
  }

  /** BM25-index COMPACTION — a third compaction semantics beside the
    * band-table distinct (DedupOps.compactMinhashIndex) and the
    * occupancy refresh (SimilarityOps.compactEmbedIndex): this index
    * stores MERGEABLE PARTIALS, so compaction is re-AGGREGATION, not
    * row dedup — termdf partials fold to one (w, df) row per term
    * (batches carry disjoint doc_ids, the append contract, so partial
    * dfs ADD), stats partials to a single totals row, and postings
    * rewrite repartitioned by term — restoring the term clustering
    * that interleaved appends erode (the serve path prunes postings
    * by term, so clustering is what keeps that prune tight at scale).
    * Serve results are unchanged by construction: the serve path
    * already re-aggregates partials, and aggregation is associative.
    * Each table's rewrite commits as a new version that replaces the
    * snapshot ([[SinkOps.rewriteVersion]]).
    */
  def compactBm25Index(path: String): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    SinkOps.rewriteVersion(spark, s"$path/postings")(
      (p, n) => p.repartition(n, col("w")))
    SinkOps.rewriteVersion(spark, s"$path/doclen")(_.coalesce(_))
    SinkOps.rewriteVersion(spark, s"$path/termdf")(
      _.groupBy("w").agg(sum("df").as("df")).coalesce(_))
    SinkOps.rewriteVersion(spark, s"$path/stats")((st, _) =>
      st.agg(sum("nd").as("nd"), sum("ntok").as("ntok"),
        sum("ndl").as("ndl")))
    ()
  }

  /** Serve BM25 top-k from the PERSISTED index: the corpus is never
    * touched — postings and termdf scans are pruned to the query's
    * term set with a literal IN filter (PushedFilters at the parquet
    * reader; with the bucket layout above, partition pruning too), so
    * per-query cost is O(postings of the query terms) plus one
    * doc-keyed join against doclen (bucket doclen by doc_id on a real
    * lake to make it co-located). termdf/stats partials from any
    * number of appends merge in one tiny aggregate each. Equals
    * [[bm25TopK]] over the concatenated corpus exactly (spec-pinned).
    */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession,
                      path: String, queries: Seq[(Long, String)],
                      k: Int = 10): DataFrame = {
    val qwords = queries.flatMap(_._2.split(TextOps.WsRegex))
      .filter(_.nonEmpty).distinct
    val tf = SinkOps.readVersion(spark, s"$path/postings")
      .filter(col("w").isin(qwords: _*))
    val dfT = SinkOps.readVersion(spark, s"$path/termdf")
      .filter(col("w").isin(qwords: _*))
      .groupBy("w").agg(sum("df").as("df"))
    val dl = SinkOps.readVersion(spark, s"$path/doclen")
    val stats = SinkOps.readVersion(spark, s"$path/stats")
      .agg(sum("nd").as("nd"), sum("ntok").as("ntok"),
        sum("ndl").as("ndl"))
      .select(col("nd"), avgdlOf)
    bm25Score(tf, dl, dfT, stats, bm25QTerms(spark, queries), k)
  }

  /** Term-count ranker — the cheap boolean-ish retrieval baseline RRF
    * fuses against BM25: score = total occurrences of the query's
    * terms in the doc, top-k per query under the (cnt desc, doc_id)
    * total order. Broadcast query terms prune the postings pre-shuffle
    * exactly as in [[bm25TopK]].
    */
  def termCountTopK(docs: DataFrame, queries: Seq[(Long, String)],
                    k: Int = 10): DataFrame = {
    val rank = Window.partitionBy("q_id")
      .orderBy(col("cnt").desc, col("doc_id"))
    bm25Toks(docs)
      .join(broadcast(bm25QTerms(docs.sparkSession, queries)), Seq("w"))
      .groupBy("q_id", "doc_id").agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(rank).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two ranked lists
    * (q_id, doc_id, rnk): contribution floor(10^9 / (60 + rank)) in
    * INTEGER micro-units — the standard rrf_k = 60 with the division
    * done in int64 so the fused score is exact and engine-portable (a
    * float 1/(60+r) sum would hang the result on accumulation order).
    * Absent-from-one-list docs contribute 0 from that list (rank
    * reported as 0). One (q_id, doc_id)-keyed outer merge + the top-k
    * window — both rankers' lists are already ≤ depth·|queries| rows,
    * so at 100 TB this stage is trivially driver-scale while the
    * rankers themselves stay distributed.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int = 10): DataFrame = {
    def side(df: DataFrame, tag: String): DataFrame =
      df.select(col("q_id"), col("doc_id"), col("rnk").as(s"rnk_$tag"),
        expr("1000000000 div (60 + rnk)").as(s"c_$tag"))
    val rank = Window.partitionBy("q_id")
      .orderBy(col("rrf").desc, col("doc_id"))
    side(a, "a").join(side(b, "b"), Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"),
        coalesce(col("rnk_a"), lit(0L)).as("rnk_a"),
        coalesce(col("rnk_b"), lit(0L)).as("rnk_b"),
        (coalesce(col("c_a"), lit(0L)) + coalesce(col("c_b"), lit(0L)))
          .as("rrf"))
      .withColumn("rnk", row_number().over(rank).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** HYBRID dense+sparse retrieval — the composition the retrieval tier
    * exists for, and the most common production deployment shape today:
    * BM25 top-`depth` served from the persisted four-table index
    * ([[bm25TopKIndexed]] — corpus never re-read, term-pruned postings
    * probes) fused by exact-integer RRF with dense ANN top-`depth`
    * served from the persisted IVF index
    * ([[graft.ops.SimilarityOps.ivfProbeIncremental]] — broadcast
    * centroids, candidates ≈ nProbe/nCentroids of the corpus). The two
    * rankers meet on the shared doc/vec id domain (doc_id ≡ vec_id);
    * `qvecs` carries one query embedding per q_id in `queries` (the
    * same information need expressed in both modalities).
    *
    * Scale shape: each ranker is an independent artifact probe — no
    * stage reads a corpus table; the fusion input is ≤ 2·depth·|queries|
    * rows, driver-scale at any corpus size, so hybrid costs exactly
    * sparse + dense + ε. Output = [[rrfFuse]]'s (q_id, doc_id, rnk_a
    * [sparse], rnk_b [dense], rrf, rnk ≤ k).
    */
  def hybridTopK(spark: org.apache.spark.sql.SparkSession,
                 bm25Path: String, ivfPath: String,
                 queries: Seq[(Long, String)], qvecs: DataFrame,
                 depth: Int = 20, k: Int = 10): DataFrame =
    rrfFuse(
      bm25TopKIndexed(spark, bm25Path, queries, depth)
        .select("q_id", "doc_id", "rnk"),
      graft.ops.SimilarityOps.ivfProbeIncremental(qvecs, ivfPath, depth)
        .select(col("q_id"), col("vec_id").as("doc_id"), col("rnk")),
      k)

  /** Retrieval-quality EVALUATION — the measurement loop every ranked
    * retriever (BM25 serving, hybrid fusion, ANN) ships with: per
    * query, MRR, precision@k, recall@k, and average precision of the
    * BM25 top-k against BOOLEAN-retrieval ground truth (relevant ⇔ the
    * document contains EVERY query term — conjunctive matching, fully
    * SQL-expressible, so the truth set is deterministic in both
    * engines and needs no human labels). The eval twin of the ANN
    * tier's [[graft.ops.SimilarityOps.recallAtK]]: there truth is the
    * brute scan, here the conjunctive term filter.
    *
    * Every metric is an exact int64 in ppm via floor division — MRR =
    * 10^6 div first-relevant-rank, P@k = hits·10^6 div k, recall =
    * hits·10^6 div n_rel, AP = (Σ over relevant positions i of
    * cum_hits_i·10^6 div i) div min(n_rel, k) — no float summation
    * anywhere, so the table is engine- and layout-identical and a
    * recall regression shows as a changed integer, not a drifting
    * float. Queries with an empty truth set report zeros (guarded
    * divisors), never divide-by-zero.
    *
    * Scale shape: ground truth is one broadcast-qterms join over the
    * distinct (doc, term) postings with a per-(query, doc) match
    * count — linear, keyed; the metric pass runs over ≤ k·|queries|
    * ranked rows. At 100 TB the eval query set is a sample and this
    * whole table is driver-scale while the ranker stays distributed.
    */
  def rankEval(docs: DataFrame, queries: Seq[(Long, String)],
               k: Int = 10): DataFrame = {
    // One pinned postings aggregate feeds BOTH the ranker and the
    // conjunctive truth set (postings IS the distinct (doc_id, w) pair
    // set — one row per pair by construction), the same sharing
    // q_hybrid_eval gets from its on-disk postings artifact; without it
    // the truth derivation replays a full corpus tokenize.
    val postings = bm25Postings(docs)
    rankEvalMulti(docs, queries,
      bm25TopKFromPostings(docs, postings, queries, k)
        .withColumn("ranker", lit("r")),
      k, Seq("r"), docTerms = Some(postings.select("doc_id", "w")))
      .drop("ranker")
  }

  /** [[rankEval]] generalized to judge ANY ranked lists against the
    * same conjunctive-term ground truth, given as a TAGGED union
    * (ranker, q_id, doc_id, rnk ≤ k) — the side-by-side harness the
    * hybrid tier needs: the sparse (BM25), dense (IVF ANN) and fused
    * (RRF) rankers are scored by one metric block over one shared truth
    * set, so "hybrid beats both" is a readable integer comparison. The
    * conjunctive-truth derivation (the one corpus-token pass) runs ONCE
    * and every ranker's metric block keys on (ranker, q_id), so judging
    * three rankers costs one truth pass + a ≤ 3·k·|queries|-row metric
    * agg, not three corpus scans. Output adds the `ranker` column; the
    * rest of the schema matches [[rankEval]].
    */
  def rankEvalMulti(docs: DataFrame, queries: Seq[(Long, String)],
                    ranked: DataFrame, k: Int,
                    rankers: Seq[String] = Nil,
                    docTerms: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    val res = ranked.select("ranker", "q_id", "doc_id", "rnk")
    // The every-query-reports contract needs the ranker universe even
    // when a ranker returns NOTHING (empty corpus, no hits): callers
    // that know their tags pass them; default derives from the data.
    val rankerUniverse =
      if (rankers.isEmpty) res.select("ranker").distinct()
      else {
        import spark.implicits._
        rankers.toDF("ranker")
      }
    val qt = bm25QTerms(spark, queries)
    val nq = qt.groupBy("q_id").agg(count(lit(1)).as("n_qt"))
    // Conjunctive truth needs only the distinct (doc_id, w) pairs. A
    // caller that already holds them as an artifact — the BM25 index's
    // postings table is exactly one row per (doc_id, w) — passes them
    // via docTerms and skips this second full corpus tokenize (the
    // truth set is identical by the postings-table construction).
    val dw = docTerms.getOrElse(
      bm25Toks(docs).select("doc_id", "w").distinct())
    val rel = dw.join(broadcast(qt), Seq("w"))
      .groupBy("q_id", "doc_id").agg(count(lit(1)).as("n_match"))
      .join(broadcast(nq), Seq("q_id"))
      .filter(col("n_match") === col("n_qt"))
      .select("q_id", "doc_id")
    val nRel = rel.groupBy("q_id").agg(count(lit(1)).as("n_rel"))
    val w = Window.partitionBy("ranker", "q_id").orderBy("rnk")
    val marked = res
      .join(rel.withColumn("is_rel", lit(1L)), Seq("q_id", "doc_id"), "left")
      .select(col("ranker"), col("q_id"), col("rnk"),
        coalesce(col("is_rel"), lit(0L)).as("is_rel"))
      .withColumn("cum_hits", sum("is_rel").over(w))
    val perQ = marked.groupBy("ranker", "q_id").agg(
      sum("is_rel").as("hits_k"),
      min(when(col("is_rel") === 1L, col("rnk"))).as("fr"),
      sum(when(col("is_rel") === 1L,
          expr("(cum_hits * 1000000) div rnk")).otherwise(lit(0L)))
        .as("ap_num"))
    rankerUniverse
      .crossJoin(broadcast(qt.select("q_id").distinct()))
      .join(perQ, Seq("ranker", "q_id"), "left")
      .join(nRel, Seq("q_id"), "left")
      .select(col("ranker"), col("q_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("hits_k"), lit(0L)).as("hits_k"),
        coalesce(col("fr"), lit(0L)).as("first_rel"),
        coalesce(col("ap_num"), lit(0L)).as("ap_num"))
      .select(col("ranker"), col("q_id"), col("n_rel"), col("hits_k"),
        col("first_rel"),
        when(col("first_rel") > 0L, expr("1000000 div first_rel"))
          .otherwise(lit(0L)).as("mrr_ppm"),
        expr(s"(hits_k * 1000000) div $k").as("p_at_k_ppm"),
        expr("(hits_k * 1000000) div greatest(n_rel, 1)").as("recall_ppm"),
        expr(s"ap_num div greatest(least(n_rel, $k), 1)").as("ap_ppm"))
  }

  /** Deterministic weighted (importance) sampling: keep each row with
    * probability thr/10^6, thr a caller-supplied integer column in
    * [0, 10^6] (values above cap at keep-everything) — e.g. proportional
    * to a quality score or length. The keep decision hashes only the id,
    * so it is reproducible across engines/re-runs and independent of the
    * weight formula's evolution for rows whose thr crosses 10^6. Fourth
    * member of the sampling family: uniform (q_sample), stratified
    * (q_sample_stratified), target-mix (q_mix_resample), weighted.
    * Pure filter over a scan — shuffle-free at any scale.
    */
  def weightedSample(docs: DataFrame, thr: Column): DataFrame =
    docs.filter(
      TextOps.hash60(concat(lit("wsamp-"), col("doc_id"))) % 1000000L
        < least(lit(1000000L), thr))

  /** Deterministic target-mix resampling (data mixing for training): given
    * a per-group target percentage of the output mix, downsample each
    * group with a hash threshold so kept counts approach
    * pct/100 · |corpus|, capped at keeping everything (groups under their
    * target are never upsampled). A document's keep decision depends only
    * on its id — stable under re-runs, engine swaps, and corpus growth.
    * Output: per-group audit (group, n_orig, thr, n_kept, id_sum); id_sum
    * pins the exact kept id set, not just its size.
    *
    * Threshold arithmetic is all-int64: thr = min(10^6, pct·N·10^4 / n_g)
    * compared against hash60("mix-"||id) mod 10^6. Safe to N ≈ 10^12 docs
    * (pct·N·10^4 ≤ 100·10^12·10^4 < 2^63).
    *
    * Scale shape: group counts and the corpus total are tiny aggregates
    * broadcast back onto the corpus — the only full-data exchange is the
    * final per-group audit agg, which map-side combines to ~|groups| rows.
    * Rows with a NULL group key drop out at the join (SQL equality) —
    * assign an explicit "unknown" group upstream if they must be kept.
    */
  def mixResample(docs: DataFrame, groupCol: String, pct: Column): DataFrame = {
    val counts = docs.groupBy(groupCol).agg(count(lit(1)).as("n_g"))
    val total = docs.agg(count(lit(1)).as("n_tot"))
    val thr = counts.crossJoin(broadcast(total))
      .withColumn("pct", pct)
      .withColumn("thr",
        expr("least(1000000, pct * n_tot * 10000 div n_g)").cast("long"))
      .select(col(groupCol), col("n_g").as("n_orig"), col("thr"))
    docs.join(broadcast(thr), groupCol)
      .filter(TextOps.hash60(concat(lit("mix-"), col("doc_id"))) % 1000000L
        < col("thr"))
      .groupBy(col(groupCol), col("n_orig"), col("thr"))
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"))
  }

  /** Association-rule mining over (basket, item) pairs — frequent item
    * PAIRS with support, confidence, and lift (the market-basket /
    * co-occurrence analysis classic; the 2-itemset core of Apriori,
    * which is where real retail/log analysis stops anyway). Both rule
    * directions are emitted: (ante → cons, n_pair, n_ante, n_cons,
    * conf = n_pair/n_ante, lift = n_pair·N / (n_ante·n_cons)).
    *
    * Support is RELATIVE — min_sup = N div supDiv baskets (default
    * 0.4%) — so the operator is scale-free: the same threshold
    * semantics at sf0.001 and at 100 TB, with no absolute count to
    * retune (and the oracle replays it exactly: one integer divide).
    *
    * Scale shape (the Apriori pruning argument): the input first
    * reduces to DISTINCT (basket, item) — the only full-data shuffle.
    * Items below min_sup are pruned BEFORE pair generation via a
    * broadcast semi-join (the frequent-item set is ≤ |catalog| rows by
    * construction), so per-basket pair expansion is choose-2 over
    * frequent items only — a hot basket of rare junk expands to
    * nothing. A basket of many FREQUENT items is bounded too:
    * `maxBasketItems` keeps each basket's top-m frequent items by the
    * deterministic (support desc, item asc) order before pairing, so
    * expansion is ≤ choose-2(m) per basket — an adversarial
    * all-frequent-items mega-basket (a crawl bucket holding the whole
    * catalog) costs O(m²), not O(catalog²). The rank rides the same
    * basket-keyed exchange the pair self-join needs; truncated baskets
    * lose only their weakest-support items, and the oracle replays the
    * identical rank, so both engines see the same truncation. Pair
    * counting is one keyed agg on (i1, i2); the threshold and basket
    * total attach as 1-row broadcasts. All counts exact int64;
    * conf/lift are single terminal IEEE divisions of exact integer
    * products (n_pair·N < 2^63 to N ≈ 3·10^9 baskets with
    * int32-bounded pair counts — beyond that, widen to DECIMAL).
    */
  def assocRules(pairs: DataFrame, basketCol: String, itemCol: String,
                 supDiv: Long = 250L, maxBasketItems: Int = 64): DataFrame = {
    require(supDiv >= 1, s"supDiv must be >= 1, got $supDiv")
    require(maxBasketItems >= 2,
      s"maxBasketItems must be >= 2, got $maxBasketItems")
    val b = pairs.select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val thr = b.agg(countDistinct("basket").as("n_b"))
      .select(col("n_b"), expr(s"n_b div $supDiv").as("min_sup"))
    val ic = b.groupBy("item").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(thr))
      .filter(col("cnt") >= col("min_sup"))
      .select(col("item"), col("cnt"), col("n_b"))
    // Frequent-item pruning BEFORE pair expansion (broadcast attach of
    // the frequent-item counts), then the per-basket top-m cap: rank
    // each basket's surviving items by (support desc, item asc) and
    // keep rk ≤ maxBasketItems — the hot-basket expansion bound.
    val bf = b.join(broadcast(ic.select(col("item"), col("cnt"))), "item")
      .withColumn("rk", row_number().over(
        Window.partitionBy("basket")
          .orderBy(col("cnt").desc, col("item").asc)))
      .filter(col("rk") <= maxBasketItems)
      .select(col("basket"), col("item"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The frequent-pair table is consumed TWICE by the rule-direction
    // union below, and the per-basket self-join consumes `bf` twice —
    // without a pin the distinct + window + self-join + pair agg chain
    // (the whole cost of the operator) replays once per reference.
    // Eager localCheckpoint: `fp` is the post-threshold pair set —
    // catalog²-bounded, tiny — so both directions read a materialized
    // table and the heavy chain runs exactly once.
    val fp = bf.select(col("basket"), col("item").as("i1"))
      .join(bf.select(col("basket").as("basket2"), col("item").as("i2")),
        col("basket") === col("basket2") && col("i1") < col("i2"))
      .groupBy("i1", "i2").agg(count(lit(1)).as("n_pair"))
      .crossJoin(broadcast(thr.select(col("min_sup"))))
      .filter(col("n_pair") >= col("min_sup"))
      .localCheckpoint(true)
    val rules = fp.select(col("i1").as("ante"), col("i2").as("cons"), col("n_pair"))
      .union(fp.select(col("i2").as("ante"), col("i1").as("cons"), col("n_pair")))
    rules
      .join(broadcast(ic.select(col("item").as("ante"), col("cnt").as("n_ante"),
        col("n_b"))), "ante")
      .join(broadcast(ic.select(col("item").as("cons"), col("cnt").as("n_cons"))),
        "cons")
      .select(col("ante"), col("cons"), col("n_pair"), col("n_ante"),
        col("n_cons"),
        (col("n_pair").cast("double") / col("n_ante").cast("double")).as("conf"),
        ((col("n_pair") * col("n_b")).cast("double") /
          (col("n_ante") * col("n_cons")).cast("double")).as("lift"))
  }

  /** Deterministic linked-page fixture for [[linkGraph]]: each document
    * becomes a page on `site(doc_id%7).example.com` whose body carries
    * TWO anchor links to other sites (cyclic-group targets so the
    * domain graph has real structure, including the site4 self-loop)
    * plus a `<link href>` stylesheet tripwire that anchor extraction
    * must NOT pick up. Closed-form, shared with the oracle.
    */
  def linkWrap(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull).select(col("doc_id"),
      concat(lit("site"), col("doc_id") % 7, lit(".example.com"))
        .as("src_domain"),
      concat(
        lit("<html><head><link href=\"http://cdn.example.com/x.css\">" +
          "</head><body><p>"),
        col("text"),
        lit("</p><a href=\"http://site"), (col("doc_id") + 1) % 7,
        lit(".example.com/p"), col("doc_id") % 5,
        lit("\">l1</a><a href=\"http://site"), (col("doc_id") * 2 + 3) % 7,
        lit(".example.com/p"), (col("doc_id") + 1) % 5,
        lit("\">l2</a></body></html>")).as("html"))

  /** Hyperlink graph extraction — the crawl side-product every web
    * corpus ships (host-level link graph for PageRank seeds, spam
    * domain detection, crawl frontier scoring): anchor hrefs pulled
    * from page HTML (`<a href="…"` — the `<link>` stylesheet tripwire
    * proves only anchors count), reduced to a host-to-host edge rollup
    * (src_domain, dst_domain, n_links, n_pages). Extraction is pure
    * per-row regex work; the only shuffle is the (src, dst)-keyed
    * rollup. Feeds [[graft.ops.GraphOps]] directly (the edge list is
    * PageRank/community input).
    */
  def linkGraph(pages: DataFrame): DataFrame =
    pages.select(col("doc_id"), col("src_domain"),
        explode(regexp_extract_all(col("html"),
          lit("<a href=\"([^\"]+)\""), lit(1))).as("href"))
      .select(col("doc_id"), col("src_domain"),
        regexp_extract(col("href"), "^[^:]+://([^/]+)", 1).as("dst_domain"))
      .groupBy("src_domain", "dst_domain")
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("doc_id")).as("n_pages"))

  /** Token-budget corpus selection — the final cut every pretraining run
    * makes: rank documents by a quality score, keep the best until a
    * token budget is spent. Score: lexical diversity in ppm
    * (`distinct_tokens·10^6 div n_tokens` — exact int), rank by
    * (score desc, doc_id asc), budget = corpus tokens `div budgetDen`
    * (derived, so the op scales with the corpus instead of pinning a
    * constant). A document is kept while the INCLUSIVE running token sum
    * stays ≤ budget — the greedy prefix. Output: every kept doc
    * (doc_id, n_tok, score_ppm, cum_tok).
    *
    * Scale shape: per-doc stats are one doc-keyed agg; the global
    * ordered prefix sum is the [[packLayout]] two-phase bucket trick on
    * the score axis — per-bucket subtotals (≤ 101 rows: score_ppm div
    * 10^4) prefix-summed on a single tiny partition, broadcast back,
    * in-bucket window partitioned BY bucket — so no corpus-sized
    * single-partition window anywhere. Ties inside a bucket order by
    * (score desc, doc_id): deterministic total order in both engines.
    */
  def budgetSelect(docs: DataFrame, budgetDen: Long = 4L): DataFrame = {
    val stats = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(split(col("text"), TextOps.WsRegex), x => x =!= "").as("w"))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tok"),
        size(array_distinct(col("w"))).cast("long").as("n_uniq"))
      .filter(col("n_tok") > 0)
      .select(col("doc_id"), col("n_tok"),
        expr("n_uniq * 1000000 div n_tok").as("score_ppm"))
    val budget = stats.agg(sum("n_tok").as("sum_tok"))
      .select(expr(s"sum_tok div $budgetDen").as("budget"))
    val b = stats.withColumn("bkt", expr("-(score_ppm div 10000)"))
    val bw = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    val boffs = b.groupBy("bkt").agg(sum("n_tok").as("bt"))
      .withColumn("boff", coalesce(sum("bt").over(bw), lit(0L)))
      .select("bkt", "boff")
    val iw = Window.partitionBy("bkt")
      .orderBy(col("score_ppm").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.join(broadcast(boffs), "bkt")
      .withColumn("cum_tok", col("boff") + sum("n_tok").over(iw))
      .crossJoin(broadcast(budget))
      .filter(col("cum_tok") <= col("budget"))
      .select("doc_id", "n_tok", "score_ppm", "cum_tok")
  }

  /** Temperature-flattened domain mixing (α = 0.5) — the multilingual /
    * multi-domain rebalancing every pretraining mix applies: sampling
    * weight ∝ n^α flattens the natural distribution so small domains
    * are not drowned (α = 0.5 is the sqrt flattening used for
    * low-resource languages). Exactness discipline: the weight is the
    * INTEGER sqrt — floor(sqrt(n)) from the IEEE sqrt with a ±1
    * integer correction, so the value is exactly ⌊√n⌋ in both engines
    * regardless of last-ulp rounding — making every share and
    * allocation an exact int64 ratio. Output per domain: natural share
    * ppm, temperature share ppm, and the doc allocation of a derived
    * budget (total div `budgetDen`). One domain-keyed count + a
    * broadcast scalar join.
    */
  def temperatureMix(docs: DataFrame, groupCol: String = "lang",
                     budgetDen: Long = 2L): DataFrame = {
    val counts = docs.filter(col(groupCol).isNotNull)
      .groupBy(groupCol).agg(count(lit(1)).as("n_docs"))
    val w = counts
      .withColumn("f0", floor(sqrt(col("n_docs").cast("double"))).cast("long"))
      .withColumn("isqrt",
        when((col("f0") + 1L) * (col("f0") + 1L) <= col("n_docs"),
          col("f0") + 1L)
          .when(col("f0") * col("f0") > col("n_docs"), col("f0") - 1L)
          .otherwise(col("f0")))
    val tot = w.agg(sum("isqrt").as("tot_w"), sum("n_docs").as("tot_docs"))
    w.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_docs"), col("isqrt").as("w_sqrt"),
        expr("n_docs * 1000000 div tot_docs").as("nat_ppm"),
        expr("isqrt * 1000000 div tot_w").as("temp_ppm"),
        expr(s"(tot_docs div $budgetDen) * isqrt div tot_w")
          .as("alloc_docs"))
  }

  /** Largest-remainder apportionment of an exact document budget over
    * the temperature-flattened domain weights — the allocation a
    * sampler actually consumes: [[temperatureMix]]'s floor-division
    * `alloc_docs` under-spends by up to |domains|−1 docs; this
    * apportions `budget = total div budgetDen` so the allocations SUM
    * EXACTLY to the budget (floor shares first, then one extra doc to
    * the largest fractional remainders, ties broken by domain
    * ascending — the Hamilton method, fully deterministic in integer
    * math). Output per domain: weight, floor share, the 0/1 extra,
    * and the final allocation.
    *
    * Scale shape: everything after the domain count is arithmetic on a
    * ≤|domains|-row table (window rank over domains is trivially
    * small); one corpus-keyed count is the only real work. Exactness:
    * remainders compare as integers (`budget·w mod W`), so no
    * fractional ties are possible beyond true equality.
    */
  def mixApportion(docs: DataFrame, groupCol: String = "lang",
                   budgetDen: Long = 2L): DataFrame = {
    val counts = docs.filter(col(groupCol).isNotNull)
      .groupBy(groupCol).agg(count(lit(1)).as("n_docs"))
    val w = counts
      .withColumn("f0", floor(sqrt(col("n_docs").cast("double"))).cast("long"))
      .withColumn("w_sqrt",
        when((col("f0") + 1L) * (col("f0") + 1L) <= col("n_docs"),
          col("f0") + 1L)
          .when(col("f0") * col("f0") > col("n_docs"), col("f0") - 1L)
          .otherwise(col("f0")))
      .drop("f0")
    val tot = w.agg(sum("w_sqrt").as("tot_w"), sum("n_docs").as("tot_docs"))
    val shares = w.crossJoin(broadcast(tot))
      .withColumn("budget", expr(s"tot_docs div $budgetDen"))
      .withColumn("alloc_base", expr("budget * w_sqrt div tot_w"))
      .withColumn("rem", expr("budget * w_sqrt % tot_w"))
    val short = shares
      .groupBy("budget").agg(sum("alloc_base").as("base_sum"))
      .select(col("budget").as("b2"),
        (col("budget") - col("base_sum")).as("n_extra"))
    val rw = Window.orderBy(col("rem").desc, col(groupCol).asc)
    shares.crossJoin(broadcast(short))
      .withColumn("rk", row_number().over(rw).cast("long"))
      .select(col(groupCol), col("n_docs"), col("w_sqrt"),
        col("alloc_base"),
        (col("rk") <= col("n_extra")).cast("long").as("extra"),
        (col("alloc_base") +
          (col("rk") <= col("n_extra")).cast("long")).as("alloc_docs"))
  }

  /** Length-bucket padding audit — the batching-efficiency report for
    * training loaders that pad every sequence in a batch to the batch
    * max: documents bucket to the next power of two of their token
    * count (`cap(n) = 1 << len(bin(n−1))`, n = 1 → 1 — pure integer
    * bit math, engine-identical), and each bucket reports how many
    * tokens padding would waste if batches were cut per bucket
    * (waste_ppm = (cap·docs − real tokens)·10⁶ div cap·docs). The
    * number a pipeline reads before choosing bucket boundaries.
    * One doc-keyed map + one ≤64-row bucket rollup, zero wide state.
    */
  def lengthBuckets(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(size(filter(split(col("text"), TextOps.WsRegex),
        x => x =!= "")).cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
      .select(col("n_tok"),
        when(col("n_tok") === 1L, 1L)
          .otherwise(expr("CAST(shiftleft(1, length(bin(n_tok - 1))) " +
            "AS BIGINT)")).as("cap"))
      .groupBy("cap").agg(
        count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tok"))
      .select(col("cap"), col("n_docs"), col("sum_tok"),
        (col("cap") * col("n_docs")).as("padded_tok"),
        expr("(cap * n_docs - sum_tok) * 1000000 div (cap * n_docs)")
          .as("waste_ppm"))

  /** Crawl-policy prefix rules — the [[urlFilter]] fixture: per-host
    * path-prefix allow/deny rules in robots.txt spirit (most-specific,
    * i.e. LONGEST matching prefix, wins; tie on length → deny). Tiny by
    * nature (a policy table), always broadcast.
    */
  val UrlRules: Seq[(String, String, String)] = Seq(
    ("site0.example.com", "/A", "deny"),
    ("site0.example.com", "/A/b1", "allow"),
    ("site1.example.com", "/A/b2", "deny"),
    ("site2.example.com", "/", "deny"),
    ("site2.example.com", "/A/b3", "allow"),
    ("site3.example.com", "/A/b4", "deny"),
    ("site4.example.com", "/", "allow"),
    ("site5.example.com", "/A/b0", "deny"),
    ("site5.example.com", "/A/b0/x", "allow"))

  /** URL prefix-rule filtering — the robots/blocklist gate between crawl
    * canonicalization and fetch/keep: each canonical URL is judged by
    * the longest [[UrlRules]] path prefix for its domain (no matching
    * rule → allow by default). Input: the [[urlNormalize]] output.
    * Output: (doc_id, url_norm, domain, rule_path, decision).
    *
    * Scale shape: the rule table broadcasts (policy tables are KBs);
    * candidate matching is a broadcast equi-join on domain plus a
    * startswith predicate, and the longest-prefix election is one
    * window keyed by doc_id — no shuffle of the URL table beyond that
    * doc-keyed election. `path` here is the canonical URL's path
    * component, query excluded, matching robots semantics.
    */
  def urlFilter(urls: DataFrame): DataFrame = {
    val rules = urls.sparkSession.createDataFrame(
      UrlRules.map(r => (r._1, r._2, r._3)))
      .toDF("r_domain", "r_path", "r_decision")
    val withPath = urls.select(col("doc_id"), col("url_norm"), col("domain"),
      regexp_extract(col("url_norm"), "^[^:]+://[^/?#]*([^?#]*)", 1)
        .as("path"))
    val matched = withPath.join(broadcast(rules),
        col("domain") === col("r_domain") &&
          col("path").startsWith(col("r_path")), "left")
    val w = Window.partitionBy("doc_id")
      // length desc = most-specific rule; decision DESC puts "deny"
      // before "allow" on a same-length tie (deny-wins contract).
      .orderBy(length(col("r_path")).desc,
        col("r_decision").desc, col("r_path").asc)
    matched.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("url_norm"), col("domain"),
        coalesce(col("r_path"), lit("")).as("rule_path"),
        coalesce(col("r_decision"), lit("allow")).as("decision"))
  }

  /** Deterministic multi-line page fixture — the [[gopherRules]] /
    * [[c4LineFilter]] fixture contract, shared closed-form with the
    * DuckDB oracle (the [[htmlWrap]]/[[urlWrap]] discipline). The
    * single-line word-soup corpus is refolded into 8-word lines, then
    * decorated by doc_id/line-index congruences so every filter rule
    * fires on a real sub-population: `- ` bullet prefixes (mod 5),
    * boilerplate `javascript void` / `{x}` injections (mod 11 / 13),
    * one `lorem ipsum` contamination marker per mod-97 doc, and a
    * terminal-punctuation cycle (`...` mod 7, else `.` mod 3, else `!`
    * mod 2, else unterminated). Pure per-row expression work (split +
    * transform + concat_ws, whole-stage codegen, zero shuffle).
    */
  def lineWrap(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        split(col("text"), graft.ops.TextOps.WsRegex).as("w"))
      .selectExpr("doc_id",
        s"""concat_ws('\n', transform(
              sequence(0, cast((size(w) + 7) div 8 as int) - 1),
              j -> concat(
                if((doc_id + j) % 5 = 0, '- ', ''),
                array_join(slice(w, j * 8 + 1, 8), ' '),
                if((doc_id + j) % 11 = 0, ' javascript void', ''),
                if((doc_id + j) % 13 = 0, ' {x}', ''),
                if(j = 0 and doc_id % 97 = 0, ' lorem ipsum', ''),
                case when (doc_id + j) % 7 = 0 then '...'
                     when (doc_id + j) % 3 = 0 then '.'
                     when (doc_id + j) % 2 = 0 then '!'
                     else '' end))) AS page""")

  /** Gopher-style document quality rules (Rae et al. 2021, table A1 —
    * the canonical LLM pre-training doc filter) over [[lineWrap]]
    * pages: per doc, the six rule metrics and the composite keep gate,
    * every ratio an exact integer (milli / ppm via int64 floor-div) so
    * the DuckDB oracle matches bit-for-bit. Word-level metrics split
    * the whole page on whitespace (bullets count as the bare `-` token
    * — stated contract); line-level metrics split on `\n`.
    *
    * Rules: 50 ≤ words ≤ 100k; mean word length in [3, 10] chars;
    * ≤ 90% of lines bulleted; ≤ 30% of lines ellipsis-terminated;
    * ≥ 2 stopword hits (the/a/of/to/and/in, punctuation-sensitive by
    * contract); ≥ 80% of words contain an alphabetic character. Pure
    * per-row expression work, zero shuffle — at 100 TB this runs as a
    * scan-side filter fused into whatever pipeline consumes it.
    */
  def gopherRules(pages: DataFrame): DataFrame = {
    val wds = filter(split(col("page"), graft.ops.TextOps.WsRegex),
      x => x =!= "")
    val lines = split(col("page"), "\n")
    pages.select(col("doc_id"),
        size(wds).cast("long").as("n_words"),
        aggregate(wds, lit(0L), (a, x) => a + length(x)).as("tot_chars"),
        size(filter(lines, _.startsWith("- "))).cast("long").as("n_bullet"),
        size(filter(lines, _.endsWith("..."))).cast("long").as("n_ellipsis"),
        size(lines).cast("long").as("n_lines"),
        size(filter(wds, _.isin("the", "a", "of", "to", "and", "in")))
          .cast("long").as("stop_hits"),
        size(filter(wds, _.rlike("[a-z]"))).cast("long").as("n_alpha"))
      // greatest(n_words, 1): an empty page (possible only for an empty
      // source doc) must yield zero metrics, not an ANSI div-by-zero.
      .selectExpr("doc_id", "n_words",
        "(1000 * tot_chars) div greatest(n_words, 1L) AS mean_wlen_milli",
        "(1000000 * n_bullet) div n_lines AS bullet_ppm",
        "(1000000 * n_ellipsis) div n_lines AS ellipsis_ppm",
        "stop_hits",
        "(1000000 * n_alpha) div greatest(n_words, 1L) AS alpha_ppm")
      .withColumn("keep",
        (col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("mean_wlen_milli") >= 3000 && col("mean_wlen_milli") <= 10000 &&
          col("bullet_ppm") <= 900000L && col("ellipsis_ppm") <= 300000L &&
          col("stop_hits") >= 2 && col("alpha_ppm") >= 800000L).cast("int"))
  }

  /** C4-style line-level filter (Raffel et al. 2020 §2.2) over
    * [[lineWrap]] pages: a line survives iff it terminates in
    * `.`/`!`/`?`, has ≥ 5 space-separated tokens, and carries no
    * `javascript` or `{` boilerplate; the doc survives iff ≥ 3 lines
    * survive and the page lacks the `lorem ipsum` placeholder. Exact
    * per-doc retention counts (lines/words/chars of the kept text) —
    * the difference between doc-level (Gopher) and line-level (C4)
    * filtering is the point of carrying both. Zero shuffle.
    */
  def c4LineFilter(pages: DataFrame): DataFrame = {
    val kept = filter(split(col("page"), "\n"), l =>
      (l.endsWith(".") || l.endsWith("!") || l.endsWith("?")) &&
        size(split(l, " ")) >= 5 &&
        !l.contains("javascript") && !l.contains("{"))
    pages.select(col("doc_id"),
      size(split(col("page"), "\n")).cast("long").as("n_lines"),
      size(kept).cast("long").as("kept_lines"),
      aggregate(kept, lit(0L), (a, l) => a + size(split(l, " ")))
        .as("kept_words"),
      aggregate(kept, lit(0L), (a, l) => a + length(l)).as("kept_chars"),
      (size(kept) >= 3 && !col("page").contains("lorem ipsum"))
        .cast("int").as("keep"))
  }

  /** Token-balanced shard assignment — the export stage every 100 TB
    * pretraining run ends with: documents are dealt to `nShards` output
    * shards so each shard carries a near-equal token load (a skewed
    * shard is a straggler for every downstream loader epoch). The
    * assignment is the serpentine ("boustrophedon") variant of
    * longest-processing-time greedy: rank docs by token count
    * descending, deal rank r of pass p to shard p-even ? pos : N−1−pos
    * — each pass hands every shard exactly one doc, and reversing
    * direction each pass cancels the within-pass size gradient, so the
    * final imbalance is bounded by one document regardless of corpus
    * size. Deterministic, no RNG.
    *
    * Scale shape: the global rank uses the packLayout bucket trick —
    * docs bucket by `−(n_tok div 64)` (bucket order = token order up to
    * the 64-wide granularity the within-bucket sort then fixes), bucket
    * counts prefix-sum on the ≤ max_tok/64-row bucket table, and the
    * within-bucket `row_number` runs under a `partitionBy(tb)` window —
    * no corpus-sized single-partition sort anywhere. Everything after
    * the rank is pure integer map + one ≤N-row rollup; `bal_ppm` =
    * shard_tokens·N·10⁶ div total (ideal 10⁶) is exact int64.
    */
  def shardBalance(docs: DataFrame, nShards: Long = 8L): DataFrame = {
    val t = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(filter(split(col("text"), TextOps.WsRegex), x => x =!= ""))
          .cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("tb", -expr("n_tok div 64"))
    val bw = Window.orderBy("tb").rowsBetween(Window.unboundedPreceding, -1)
    val boffs = t.groupBy("tb").agg(count(lit(1)).as("bc"))
      .withColumn("boff", coalesce(sum("bc").over(bw), lit(0L)))
      .select("tb", "boff")
    val iw = Window.partitionBy("tb")
      .orderBy(col("n_tok").desc, col("doc_id").asc)
    val ranked = t.join(broadcast(boffs), "tb")
      .withColumn("rk",
        col("boff") + row_number().over(iw).cast("long") - 1L)
      .withColumn("pos", pmod(col("rk"), lit(nShards)))
      .withColumn("shard",
        when(pmod(expr(s"rk div $nShards"), lit(2L)) === 0L, col("pos"))
          .otherwise(lit(nShards - 1L) - col("pos")))
    val tot = ranked.agg(sum("n_tok").as("tot_tok"))
    ranked.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tok"),
        max("n_tok").as("max_tok"))
      .crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("sum_tok"), col("max_tok"),
        expr(s"sum_tok * $nShards * 1000000 div tot_tok").as("bal_ppm"))
  }

  /** Deterministic span-corruption layout (T5/UL2-style denoising prep):
    * token position t of a document opens a 3-token mask span iff the
    * portable hash of `"<doc_id>:<t>"` lands under `ratePct`%, and a
    * position is masked iff any of positions t, t−1, t−2 opened a span
    * (overlapping spans merge into runs — the union-of-windows
    * contract, stated rather than resampled, keeps the layout a pure
    * per-position map). Per doc: span starts, masked-position count,
    * and the realized corruption rate in exact ppm — the numbers a
    * denoising-objective loader needs to budget sentinel tokens, laid
    * out without materializing any masked text.
    *
    * Scale shape: explode to one row per token position, three hash
    * evaluations per row (pure map, whole-stage codegen), one doc-keyed
    * agg with map-side combine. Nothing shuffles but (doc_id, three
    * int flags); determinism comes from the shared [[TextOps.hash60]]
    * (DuckDB twin: md5-prefix), so the oracle re-derives every mask
    * decision bit-for-bit.
    */
  def spanMask(docs: DataFrame, ratePct: Long = 15L): DataFrame = {
    def isStart(tc: Column): Column =
      (tc >= 0L) && pmod(TextOps.hash60(concat(col("doc_id").cast("string"),
        lit(":"), tc.cast("string"))), lit(100L)) < ratePct
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(filter(split(col("text"), TextOps.WsRegex), x => x =!= ""))
          .cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
      .select(col("doc_id"), col("n_tok"),
        explode(sequence(lit(0L), col("n_tok") - 1L)).as("t"))
      .select(col("doc_id"), col("n_tok"),
        isStart(col("t")).cast("long").as("is_start"),
        (isStart(col("t")) || isStart(col("t") - 1L) ||
          isStart(col("t") - 2L)).cast("long").as("is_masked"))
      .groupBy("doc_id")
      .agg(max("n_tok").as("n_tok"), sum("is_start").as("n_spans"),
        sum("is_masked").as("n_masked"))
      .select(col("doc_id"), col("n_tok"), col("n_spans"), col("n_masked"),
        expr("n_masked * 1000000 div n_tok").as("mask_ppm"))
  }
}
