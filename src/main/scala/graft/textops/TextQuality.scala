package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language ID (n-gram/stopword heuristic), and document
  * fingerprinting. Pure column expressions (codegen'd) except where an
  * aggregation is inherent.
  */
object TextQuality {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(trim(text), " "))

  /** BPE-ish subword count: letter runs, digit runs, and single
    * non-alphanumeric marks each count as one token (regex identical in
    * Java and RE2, so oracle-replicable).
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Stopword ratio over whitespace tokens. */
  def stopwordRatio(text: Column): Column = {
    val toks = split(lower(trim(text)), " ")
    round(size(filter(toks, t => t.isInCollection(Stopwords))) /
      greatest(size(toks).cast("double"), lit(1.0)), 6)
  }

  /** Mean word length (chars excluding spaces / word count). */
  def avgWordLen(text: Column): Column = {
    val toks = split(trim(text), " ")
    round(length(regexp_replace(trim(text), " ", "")) /
      greatest(size(toks).cast("double"), lit(1.0)), 6)
  }

  /** Punctuation ratio: non-alphanumeric-non-space chars / total chars. */
  def punctRatio(text: Column): Column =
    round(length(regexp_replace(lower(text), "[a-z0-9 ]", "")) /
      greatest(length(text).cast("double"), lit(1.0)), 6)

  /** Composite quality score in [0,1]: length saturation × (1 − punct
    * penalty) × word-shape sanity. The exact formula matters less than its
    * determinism — it is replicated verbatim in the oracle SQL.
    */
  def qualityScore(text: Column): Column =
    round(
      least(tokenCount(text).cast("double") / lit(100.0), lit(1.0)) *
        (lit(1.0) - punctRatio(text)) *
        when(avgWordLen(text).between(2.0, 12.0), lit(1.0)).otherwise(lit(0.5)),
      6)

  /** Tiny per-language stopword lists for the language-ID heuristic. */
  val LangStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "es" -> Seq("el", "la", "los", "que", "es"),
    "it" -> Seq("il", "la", "che", "di", "non"))

  /** Language-ID heuristic: argmax over per-language stopword hit counts;
    * "und" (undetermined) when nothing hits. Deterministic tie-break by
    * language code.
    */
  def langId(text: Column): Column = {
    val toks = split(lower(trim(text)), " ")
    val scored = LangStopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(filter(toks, t => t.isInCollection(words))).as("hits"),
             lit(lang).as("lang"))
    }
    val best = greatest(scored: _*) // struct compare: hits first, then lang desc
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Order-sensitive document fingerprint: XOR over position-mixed token
    * hashes of the DETERMINISTIC token id (vocab rank) — a rolling-hash
    * style content signature replicable in SQL (`bit_xor` aggregate).
    * Input: (doc, pos, tid).
    */
  def fingerprint(docPosTids: DataFrame): DataFrame =
    docPosTids.groupBy("doc")
      .agg(expr("bit_xor((tid * 2654435761 + pos * 40503) % 2147483648)").as("fingerprint"))

  /** (doc, pos, tid) with pos = 1-based token position. */
  def docPosTokenIds(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // two consumers (vocab build + join) — checkpoint the explode pass over
    // the corpus so it runs once (same shape as Dedup.docTokenIds)
    val posTok = docs.select(col(idCol).as("doc"),
        posexplode(split(lower(trim(col(textCol))), " ")).as(Seq("pos0", "tok")))
      .filter(col("tok") =!= "")
      .select(col("doc"), (col("pos0") + 1).as("pos"), col("tok"))
      .localCheckpoint(eager = false)
    val v = Dedup.vocab(posTok.select("tok"))
    posTok.join(v, "tok").select(col("doc"), col("pos"), col("tid"))
  }
}
