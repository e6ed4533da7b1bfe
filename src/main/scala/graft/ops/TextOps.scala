package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text scan/tokenize/filter operators — the reference's wordcount/grep
  * family re-expressed Spark-first.
  *
  * Reference semantics (cited, not copied):
  *  - whitespace tokenize + count: WordCount.java:38-68, LeanWordCount.java:43-66
  *  - regex match extract + count + global desc sort: Grep.java:46-106
  *
  * The reference runs these as 1-2 Hadoop jobs with explicit combiners and
  * a single-reducer sort stage; here each is ONE declarative plan so
  * Catalyst plans FileScan → Generate → partial/final HashAggregate →
  * (range-partitioned) Sort. Map-side partial aggregation — the combiner —
  * is automatic; the desc sort is a sampled RangePartitioning exchange, not
  * a single reducer, so it scales past one node.
  */
object TextOps {

  /** Whitespace tokenizer class — Java regex `\s` spelled out as its six
    * code points, so the contract is engine-identical BY CONSTRUCTION:
    * DuckDB's RE2 `\s` excludes U+000B while Java's includes it, a latent
    * divergence this explicit class removes (OracleSql.Ws is the same
    * class; KGram's byte tokenizer walks the identical set).
    */
  val WsRegex = "[ \\t\\n\\x0B\\f\\r]+"

  /** line/document column → one row per whitespace token. */
  def tokens(df: DataFrame, textCol: String, out: String = "word"): DataFrame =
    df.select(explode(split(col(textCol), TextOps.WsRegex)).as(out))
      .filter(col(out) =!= "")

  /** wordcount: token → count. Output order is unspecified (the driver
    * and oracle compare rows as a multiset); callers wanting the
    * reference's ranked listing compose with SortOps. Partial agg is
    * map-side.
    */
  def wordCount(df: DataFrame, textCol: String): DataFrame =
    tokens(df, textCol)
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** grep: emit every regex match (capture group `group`) with its count,
    * globally sorted by count descending (ties by match) — the reference's
    * RegexMapper+LongSumReducer job followed by its InverseMapper +
    * single-reducer desc-sort job (Grep.java:46-106), as ONE plan with no
    * SequenceFile staging and a sampled range-partitioned sort instead of
    * one reducer.
    *
    * The pattern travels as a literal (not interpolated SQL text), so
    * quotes/backslashes are safe. Regex dialect is Java's; oracle parity
    * holds for the common subset (character classes, quantifiers,
    * alternation, groups) — lookaround/backrefs are Java-only.
    */
  def grep(df: DataFrame, textCol: String, pattern: String, group: Int = 0): DataFrame =
    df.select(
        explode(regexp_extract_all(col(textCol), lit(pattern), lit(group))).as("match"))
      .filter(col("match") =!= "")
      .groupBy("match")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("match"))

  /** Portable 60-bit hash shared with the DuckDB oracle:
    * first 15 hex chars of md5 → bigint. Used wherever a hash must be
    * reproducible outside the JVM (minhash/simhash/fingerprints).
    * Computed by the native `Hash60Expr` (digest bits directly, no hex
    * round-trip — ~2× on hash-bound scans); `hash60Builtin` keeps the
    * built-ins-only composition for cross-checks.
    */
  def hash60(c: Column): Column = graft.functions.Hash60Expr(c)

  /** Built-ins-only twin of hash60 (same values, spec cross-checked). */
  def hash60Builtin(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Sentence-boundary class: one-or-more enders followed by whitespace.
    * No lookbehind (RE2 has none), so the delimiter run is consumed —
    * identically in both engines; the oracle uses the same pattern.
    */
  val SentenceRegex: String = """[.!?]+[ \t\n\x0B\f\r]+"""

  /** Sentence segmentation: one row per non-empty sentence with its
    * post-filter index, length, and md5 (pins the exact split). Pure
    * per-doc generate — zero shuffle, parallel at any corpus size.
    */
  def sentences(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(split(col("text"), SentenceRegex), x => x =!= "").as("ss"))
      .filter(size(col("ss")) > 0)
      .select(col("doc_id"), posexplode(col("ss")).as(Seq("sent_idx", "sent")))
      .select(col("doc_id"), col("sent_idx").cast("long").as("sent_idx"),
        length(col("sent")).cast("long").as("n_chars"),
        md5(col("sent")).as("sent_md5"))
}
