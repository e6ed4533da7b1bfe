package graft

import org.apache.spark.sql.functions._
import graft.ops.{CurationOps, DedupOps, SimilarityOps, TextStatsOps}

/** Specs for the round-9 curation additions: span-level substring dedup,
  * linear classifier apply, token-budget selection, PII report, int8
  * quantization audit, SemDeDup, URL prefix filtering.
  */
class Round9OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---- substringDupStats ----

  test("substringDupStats marks cross-doc 8-gram spans, ignores " +
      "internal repetition, and measures the longest run") {
    val docs = Seq(
      // A and B share exactly the 8-gram a1..a8 (A's first, B's second)
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"),
      (2L, "b0 a1 a2 a3 a4 a5 a6 a7 a8 b9"),
      // internal repetition only: gram r1..r8 occurs twice WITHIN doc 3,
      // in no other doc — df counts distinct docs, so NOT a dup
      (3L, "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8"),
      // full-copy pair: every gram duplicated, run = all 3 positions
      (4L, "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10"),
      (5L, "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10"),
      // below k words: no grams, absent from output
      (6L, "f1 f2")
    ).toDF("doc_id", "text")
    val got = DedupOps.substringDupStats(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) === ((3L, 1L, 333333L, 1L)))
    assert(got(2L) === ((3L, 1L, 333333L, 1L)))
    assert(got(3L) === ((9L, 0L, 0L, 0L)))
    assert(got(4L) === ((3L, 3L, 1000000L, 3L)))
    assert(got(5L) === ((3L, 3L, 1000000L, 3L)))
    assert(!got.contains(6L))
  }

  test("quoteCorpus embeds words 3..14 of every third doc between " +
      "unique framing") {
    val docs = Seq(
      (3L, "w1 w2 w3 w4 w5"),
      (4L, "x1 x2 x3 x4 x5")
    ).toDF("doc_id", "text")
    val out = DedupOps.quoteCorpus(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet === Set(3L, 4L, 1000003L))
    assert(out(1000003L) ===
      "quoteopen3 begins here now w3 w4 w5 quoteclose3")
  }

  // ---- linearClassifierApply ----

  test("linearClassifierApply derives ppm-difference weights and a " +
      "training-set confusion rollup") {
    val docs = Seq(
      (1L, "en", "hello world"), (2L, "en", "hello world"),
      (3L, "de", "hallo welt"), (4L, "de", "hallo welt")
    ).toDF("doc_id", "lang", "text")
    // cpos(hello)=2, cneg=0; tpos=tneg=4, vocab=4:
    //   w(hello) = (3*1e6)//8 - (1*1e6)//8 = 250000; w(hallo) = -250000
    val got = TextStatsOps.linearClassifierApply(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got(("en", "en")) === ((2L, 1000000L)))
    assert(got(("de", "other")) === ((2L, -1000000L)))
    assert(got.size === 2)
  }

  // ---- budgetSelect ----

  test("budgetSelect keeps the quality-ranked prefix within the " +
      "derived token budget (inclusive cumsum)") {
    val docs = Seq(
      (1L, "a b c d"),   // score 1_000_000, 4 tokens
      (2L, "a a b b"),   // score   500_000, 4 tokens
      (3L, "a a a a"),   // score   250_000, 4 tokens
      (4L, "x y")        // score 1_000_000, 2 tokens
    ).toDF("doc_id", "text")
    // budget = 14 div 2 = 7; order: doc1 (cum 4), doc4 (cum 6),
    // doc2 (cum 10 > 7 — cut), doc3 never reached.
    val got = CurationOps.budgetSelect(docs, budgetDen = 2L).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got === Map(1L -> 4L, 4L -> 6L))
  }

  // ---- piiReport ----

  test("piiReport counts each class independently on raw text") {
    val docs = Seq(
      (1L, "en", "x u1@a.com +1-555-1234 1.2.3.4 1111 2222 3333 4444"),
      (2L, "en", "clean words only")
    ).toDF("doc_id", "lang", "text")
    val got = TextStatsOps.piiReport(docs).collect()
      .map(r => r.getString(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("email") === ((1L, 1L, 500000L)))
    assert(got("phone") === ((1L, 1L, 500000L)))
    assert(got("ipv4") === ((1L, 1L, 500000L)))
    assert(got("card") === ((1L, 1L, 500000L)))
  }

  // ---- int8QuantAudit ----

  test("int8QuantAudit computes exact codes, saturation, and worst-dim " +
      "reconstruction error; zero vectors excluded") {
    val emb = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val rows = SimilarityOps.int8QuantAudit(emb).collect()
    assert(rows.length === 1)
    val r = rows.head
    // codes: floor(127.5)=127, floor(-63.5+0.5)=-63, floor(32.25)=32, 0
    assert(r.getLong(1) === 4L)            // n_dims
    assert(r.getLong(2) === 96L)           // sum_code = 127-63+32+0
    assert(r.getLong(3) === 222L)          // sum_abs_code
    assert(r.getLong(4) === 1L)            // n_sat (the 1.0 dim)
    // worst err: |-0.5 - (-63/127)| = 0.00393700787… → 3937 ppm
    assert(r.getLong(5) === 3937L)
  }

  // ---- semanticDedup ----

  test("semanticDedup drops the larger-id member of a within-cluster " +
      "cosine near-dup pair") {
    // Four orthogonal seed vectors (ids < 16 seed the Lloyd prefix) and
    // one scaled copy of vec 0 at id 20: same direction → cos = 1.
    def unit(i: Int, s: Float) =
      (0 until 4).map(j => if (j == i) s else 0.0f)
    val emb = Seq(
      (0L, unit(0, 1.0f)), (1L, unit(1, 1.0f)),
      (2L, unit(2, 1.0f)), (3L, unit(3, 1.0f)),
      (20L, unit(0, 0.9f))
    ).toDF("vec_id", "embedding")
    val got = SimilarityOps.semanticDedup(emb).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) === ((2L, 1L, 1L)))     // pair (0,20), 20 dropped
    assert(got(1L) === ((1L, 0L, 0L)))
    assert(got(2L) === ((1L, 0L, 0L)))
    assert(got(3L) === ((1L, 0L, 0L)))
  }

  // ---- persisted classifier ----

  test("scoreWithClassifier applies persisted weights with OOV " +
      "counted at weight zero") {
    val docs = Seq(
      (1L, "en", "hello world"), (2L, "en", "hello world"),
      (3L, "de", "hallo welt"), (4L, "de", "hallo welt")
    ).toDF("doc_id", "lang", "text")
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spec_clfw").getPath
    TextStatsOps.trainWriteClassifier(docs, path)
    val scored = TextStatsOps.scoreWithClassifier(
      docs.select(col("doc_id"), col("lang"),
        concat(col("text"), lit(" zzoov")).as("text")), path)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    // w(hello)=w(world)=250000, w(hallo)=w(welt)=-250000; zzoov → 0.
    assert(scored(1L) === ((3L, 1L, 500000L, "en")))
    assert(scored(3L) === ((3L, 1L, -500000L, "other")))
  }

  // ---- incremental substring dedup vs persisted gram index ----

  test("substringDupIncremental over the persisted gram index equals " +
      "the full re-mine's verdict on the arrival slice (no " +
      "arrival-arrival dups in the fixture)") {
    val snapshot = Seq(
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12 a13 a14 a15"),
      (2L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10")
    ).toDF("doc_id", "text")
    val arrivals = Seq(
      // embeds snapshot words a3..a12 between unique framing
      (100L, "x1 x2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12 y1 y2"),
      // all-fresh arrival: nothing known
      (101L, "f1 f2 f3 f4 f5 f6 f7 f8 f9")
    ).toDF("doc_id", "text")
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spec_gramidx").getPath
    DedupOps.writeGramIndex(snapshot, path)
    val incr = DedupOps.substringDupIncremental(arrivals, path).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(4)))).toMap
    // doc 100: 7 grams; positions 2..4 (a3..a10, a4..a11, a5..a12) are
    // snapshot grams → n_dup 3, max_run 3. doc 101: 2 grams, none known.
    assert(incr(100L) === ((7L, 3L, 3L)))
    assert(incr(101L) === ((2L, 0L, 0L)))
    // Equivalence: the full re-mine over snapshot ∪ arrivals judges the
    // arrival slice identically (fixture has no arrival-arrival dups).
    val full = DedupOps.substringDupStats(snapshot.union(arrivals))
      .filter(col("doc_id") >= 100L).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(4)))).toMap
    assert(full === incr)
  }

  // ---- linkGraph ----

  test("linkGraph extracts anchor hrefs only (link-tag tripwire) and " +
      "rolls up host-to-host edges") {
    val pages = Seq(
      (1L, "a.example.com", "<link href=\"http://cdn.example.com/y.css\">" +
        "<a href=\"http://b.example.com/p1\">x</a><a href=\"http://b.example.com/p2\">y</a>"),
      (2L, "a.example.com", "<a href=\"http://b.example.com/p3\">z</a>"),
      (3L, "b.example.com", "<a href=\"http://a.example.com/\">w</a> no more links")
    ).toDF("doc_id", "src_domain", "html")
    val got = CurationOps.linkGraph(pages).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // cdn stylesheet never appears; a.com→b.com has 3 links on 2 pages
    assert(got === Map(
      ("a.example.com", "b.example.com") -> ((3L, 2L)),
      ("b.example.com", "a.example.com") -> ((1L, 1L))))
  }

  // ---- hard negatives ----

  test("hardNegatives ranks only different-label candidates") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 1),   // query, label 1
      (10L, Seq(1.0f, 0.0f), 1),  // same label — never a negative
      (11L, Seq(1.0f, 0.1f), 2),  // different label, most similar
      (12L, Seq(0.0f, 1.0f), 2)   // different label, orthogonal
    ).toDF("vec_id", "embedding", "label")
    val got = SimilarityOps.hardNegatives(emb, numQueries = 1, k = 10)
      .collect().map(r => (r.getLong(1), r.getInt(3))).toSet
    assert(got === Set((11L, 1), (12L, 2)))
  }

  // ---- length buckets ----

  test("lengthBuckets pads to the next power of two and reports waste") {
    val docs = Seq(
      (1L, "a"), (2L, "a b"), (3L, "a b c"),
      (4L, "a b c d e"), (5L, "a b c d e f g h")
    ).toDF("doc_id", "text")
    val got = CurationOps.lengthBuckets(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) === ((1L, 1L, 1L, 0L)))
    assert(got(2L) === ((1L, 2L, 2L, 0L)))
    assert(got(4L) === ((1L, 3L, 4L, 250000L)))
    assert(got(8L) === ((2L, 13L, 16L, 187500L)))
  }

  // ---- streaming classifier scoring ----

  test("classifierScoreReplay verdicts equal batch scoring (stateless " +
      "inference across micro-batches)") {
    val docs = Seq(
      (1L, "en", "hello world"), (2L, "en", "hello world"),
      (3L, "de", "hallo welt"), (4L, "de", "hallo welt")
    ).toDF("doc_id", "lang", "text")
    val wpath = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_spec_sclfw").getPath
    TextStatsOps.trainWriteClassifier(docs, wpath)
    val arrivals = docs.select(col("doc_id"), col("lang"),
        concat(col("text"), lit(" zzoov")).as("text"))
      .union(docs.select((col("doc_id") + 100L).as("doc_id"), col("lang"),
        concat(col("text"), lit(" zzoov zzdrift")).as("text")))
    val staging = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_spec_sclf_stage_${System.nanoTime()}").getPath
    val streamed = graft.streaming.StreamOps.classifierScoreReplay(
        arrivals, wpath, staging, Seq(100L))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val batch = TextStatsOps.scoreWithClassifier(arrivals, wpath)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(streamed === batch)
    assert(streamed(1L)._2 === 1L)   // batch-1 doc: one OOV token
    assert(streamed(101L)._2 === 2L) // drifted batch-2 twin: two
    assert(streamed.size === 8)
  }

  // ---- temperature mixing ----

  test("temperatureMix flattens shares by exact integer sqrt") {
    val docs = (1L to 16L).map(i => (i, "en", "t")) ++
      (17L to 20L).map(i => (i, "de", "t"))
    val got = CurationOps.temperatureMix(
        docs.toDF("doc_id", "lang", "text"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    // isqrt(16)=4, isqrt(4)=2; tot_w=6, tot_docs=20, budget=10.
    assert(got("en") === ((16L, 4L, 800000L, 666666L, 6L)))
    assert(got("de") === ((4L, 2L, 200000L, 333333L, 3L)))
  }

  // ---- minhash planted recall ----

  test("minhashPlantedRecall finds every exact-copy planted pair") {
    // 12-word docs: the near copy shares 9 of 10 shingles (jacc 0.9) —
    // the near-dup regime the ≥0.9 banding claim is made for. Shorter
    // docs measurably degrade (6 words → jacc 0.75 → ~78% expected
    // detection), which is the audit working, not failing.
    val docs = (1L to 8L).map(i =>
      (i, (1 to 12).map(j => s"w$i-$j").mkString(" ")))
      .toDF("doc_id", "text")
    val got = DedupOps.minhashPlantedRecall(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(3)))).toMap
    assert(got("exact") === ((8L, 1000000L)))
    assert(got("near")._1 === 8L)
    assert(got("near")._2 >= 875000L) // ≥7 of 8 at p_detect ≈ 0.986
  }

  // ---- crawl rank (link graph → weighted PageRank) ----

  test("pageRankWeighted over string-keyed link-graph edges gives the " +
      "heavier-linked domain the higher rank") {
    import graft.ops.GraphOps
    // b gets 3x the link mass from a; c links back to a.
    val edges = Seq(
      ("a.example.com", "b.example.com", 3L), ("a.example.com", "c.com", 1L),
      ("b.example.com", "c.com", 1L), ("c.com", "a.example.com", 1L)
    ).toDF("src", "dst", "w")
    val ranks = GraphOps.pageRank(edges, 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ranks.keySet === Set("a.example.com", "b.example.com", "c.com"))
    // c receives from both a (1/4 share) and b (all) — highest;
    // b (3/4 of a) beats a only if c's backlink mass is lower than …
    // pin the invariant that matters: all ranks positive, and b > its
    // no-inlink base (it receives real mass).
    assert(ranks.values.forall(_ > 0L))
    assert(ranks("b.example.com") > 150000000000L)
  }

  // ---- urlFilter ----

  test("urlFilter elects the longest matching prefix rule; no rule " +
      "means allow") {
    val urls = Seq(
      // /A/b1x matches both site0 rules — longest ('/A/b1', allow) wins
      (1L, "http://site0.example.com/A/b1x", "site0.example.com"),
      // only '/A' matches → deny
      (2L, "http://site0.example.com/A/b2", "site0.example.com"),
      // no rules for site6 → default allow with empty rule_path
      (3L, "http://site6.example.com/zzz", "site6.example.com"),
      // site2: '/' deny and '/A/b3' allow — longest wins
      (4L, "http://site2.example.com/A/b3", "site2.example.com")
    ).toDF("doc_id", "url_norm", "domain")
    val got = CurationOps.urlFilter(urls).collect()
      .map(r => r.getLong(0) -> ((r.getString(3), r.getString(4)))).toMap
    assert(got(1L) === (("/A/b1", "allow")))
    assert(got(2L) === (("/A", "deny")))
    assert(got(3L) === (("", "allow")))
    assert(got(4L) === (("/A/b3", "allow")))
  }

  // ---- gopherRules / c4LineFilter ----

  test("gopherRules: each rule gates independently on hand-built pages") {
    val sixty = Array.fill(30)("the word").mkString(" ") // 60 words, 2+ stops
    val pages = Seq(
      (1L, sixty),                                   // clean -> keep
      (2L, "the a short page"),                      // <50 words
      (3L, Seq.fill(10)("- " + sixty).mkString("\n")), // 100% bulleted
      (4L, Seq.fill(10)(sixty + "...").mkString("\n")), // 100% ellipsis
      (5L, Array.fill(30)("no stop").mkString(" ") + " word " + sixty
        .replace("the ", "xx ").replace(" a ", " b ")), // stopword-free
      (6L, Array.fill(60)("9 -").mkString(" "))      // no alpha chars
    ).toDF("doc_id", "page")
    val got = CurationOps.gopherRules(pages).collect()
      .map(r => r.getLong(0) -> r.getInt(7)).toMap
    assert(got(1L) === 1)
    assert(got(2L) === 0)
    assert(got(3L) === 0)
    assert(got(4L) === 0)
    assert(got(5L) === 0)
    assert(got(6L) === 0)
  }

  test("gopherRules: exact metric values on a two-line page") {
    val page = "- the cat sat...\nbig dogs run fast."
    val r = CurationOps.gopherRules(Seq((7L, page)).toDF("doc_id", "page"))
      .head
    assert(r.getLong(1) === 8L)            // n_words (bullet '-' counts)
    // chars: 1+3+3+6 + 3+4+3+5 = 28 -> 28000/8 = 3500
    assert(r.getLong(2) === 3500L)
    assert(r.getLong(3) === 500000L)       // 1 of 2 lines bulleted
    assert(r.getLong(4) === 500000L)       // 1 of 2 ellipsis-terminated
    assert(r.getLong(5) === 1L)            // 'the' only ('sat...' != stop)
    // alpha words: all but '-' -> 7/8
    assert(r.getLong(6) === 875000L)
  }

  test("c4LineFilter: line gates, retention counts, and doc gates") {
    val keepable = "one two three four five."
    val pages = Seq(
      // 3 kept lines + 3 dropped (short / unterminated / javascript)
      (1L, Seq(keepable, "short.", "no terminal punct here",
        "uses javascript one two three.", keepable, keepable)
        .mkString("\n")),
      // only 2 kept -> doc dropped
      (2L, Seq(keepable, keepable, "x.").mkString("\n")),
      // lorem ipsum kills the doc even with 3 kept lines
      (3L, Seq(keepable, keepable, keepable, "lorem ipsum x")
        .mkString("\n")),
      // brace boilerplate dropped per-line
      (4L, Seq(keepable, keepable, keepable, "a b { c d e.")
        .mkString("\n"))
    ).toDF("doc_id", "page")
    val got = CurationOps.c4LineFilter(pages).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getInt(5)))).toMap
    assert(got(1L) === ((6L, 3L, 15L, 72L, 1)))
    assert(got(2L) === ((3L, 2L, 10L, 48L, 0)))
    assert(got(3L) === ((4L, 3L, 15L, 72L, 0)))
    assert(got(4L) === ((4L, 3L, 15L, 72L, 1)))
  }

  // ---- persisted BM25 index + RRF fusion ----

  test("bm25TopKIndexed: serve-from-artifact equals in-memory BM25, " +
      "before and after an append") {
    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    val qs = Seq((1L, "hash join"), (2L, "fast scan filter"))
    val path = java.nio.file.Files
      .createTempDirectory("bm25idx").toString
    graft.ops.CurationOps.writeBm25Index(base, path)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(rows(graft.ops.CurationOps.bm25TopKIndexed(spark, path, qs)) ===
      rows(graft.ops.CurationOps.bm25TopK(base, qs)))
    // append an arrival slice; serve must equal BM25 over the union
    val arrivals = base.select((col("doc_id") + 1000000L).as("doc_id"),
      regexp_replace(col("text"), "^\\S+\\s*", "").as("text"))
    graft.ops.CurationOps.appendToBm25Index(arrivals, path)
    assert(rows(graft.ops.CurationOps.bm25TopKIndexed(spark, path, qs)) ===
      rows(graft.ops.CurationOps.bm25TopK(base.union(arrivals), qs)))
    spark.catalog.clearCache()
  }

  test("rrfFuse: hand-computed fusion of two tiny lists") {
    val a = Seq((1L, 10L, 1L), (1L, 11L, 2L)).toDF("q_id", "doc_id", "rnk")
    val b = Seq((1L, 11L, 1L), (1L, 12L, 2L)).toDF("q_id", "doc_id", "rnk")
    val got = graft.ops.CurationOps.rrfFuse(a, b, 10).collect()
      .map(r => r.getLong(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val c1 = 1000000000L / 61; val c2 = 1000000000L / 62
    // doc 11 in both lists wins; 10 vs 12 tie on score, doc_id breaks
    assert(got(11L) === ((2L, 1L, c1 + c2, 1L)))
    assert(got(10L) === ((1L, 0L, c1, 2L)))
    assert(got(12L) === ((0L, 2L, c2, 3L)))
  }

  test("imageDHash: hand-computed gradient bits on known rasters") {
    val docs = Seq(0L, 8L).toDF("doc_id")
    val got = graft.ops.MultimodalOps.imageDHash(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(3), r.getLong(4)))).toMap
    // id 0: w = h = 1 — every sample is the same pixel, strict > never
    // fires
    assert(got(0L) === (("0" * 64, 0L)))
    // id 8: w = 9, h = 1 — px(x) = 8 + 31x mod 256 rises for 7 steps
    // then wraps at x = 8 (8 + 248 = 256 -> 0), every grid row samples
    // the single raster row
    assert(got(8L) === (("11111110" * 8, 56L)))
  }

  test("lineWrap: refold shape and decoration congruences") {
    val docs = Seq((0L, (1 to 20).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val page = CurationOps.lineWrap(docs).head.getString(1)
    val lines = page.split("\n")
    assert(lines.length === 3) // ceil(20/8)
    // doc 0, line 0: bullet (0%5=0), ellipsis (0%7=0)
    assert(lines(0).startsWith("- w1 ") && lines(0).endsWith("..."))
    // line 1: no bullet; 1%7!=0, 1%3!=0, 1%2!=0 -> unterminated
    assert(lines(1) === "w9 w10 w11 w12 w13 w14 w15 w16")
    // line 2: 2%11!=0, 2%13!=0; 2%2=0 -> '!'
    assert(lines(2) === "w17 w18 w19 w20!")
  }
}
