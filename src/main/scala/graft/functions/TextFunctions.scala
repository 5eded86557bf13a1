package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Scalar-function layer (SURVEY §2.8 / §2.12): the reference's hand-written
  * string logic as reusable Column combinators, plus the few pieces that
  * genuinely need a UDF (the mention grammar's ordered filtering passes).
  * Everything here is per-row and shuffle-free.
  */
object TextFunctions {

  // ===== C1: @mention parsing (reference: amplifierd/amplifierd/utils/mentions.py:15-76) =====

  private val InlineCode    = "`[^`\n]+`".r
  private val QuotedMention = """(?<![a-zA-Z0-9])@"([^"]+)"""".r
  private val SimpleMention = """(?<![a-zA-Z0-9])@([a-zA-Z0-9_\-/\.:]+)""".r
  private val DoubleQuoted  = "\"[^\"\n]*\"".r
  private val SingleQuoted  = "'[^'\n]*'".r

  /** Exact reference semantics, order-sensitive: strip inline code; take
    * quoted mentions; remove them; strip remaining double- then single-
    * quoted strings; take simple mentions, excluding the literal
    * "@mention". Returned with the @ prefix, quotes removed.
    */
  def parseMentions(text: String): Seq[String] = {
    if (text == null) return Seq.empty
    val noCode = InlineCode.replaceAllIn(text, "")
    val quoted = QuotedMention.findAllMatchIn(noCode).map(_.group(1)).filter(_.nonEmpty).toSeq
    val afterQuoted = QuotedMention.replaceAllIn(noCode, "")
    val noQuotes    = SingleQuoted.replaceAllIn(DoubleQuoted.replaceAllIn(afterQuoted, ""), "")
    val simple = SimpleMention.findAllMatchIn(noQuotes).map(_.group(1))
      .filter(m => m.nonEmpty && m != "mention").toSeq
    (quoted ++ simple).map("@" + _)
  }

  /** `@file.md` / `@"a b.md"` -> path (reference: mentions.py:100-104). */
  def extractMentionPath(mention: String): String = {
    val p = mention.dropWhile(_ == '@')
    if (p.length >= 2 && p.startsWith("\"") && p.endsWith("\"")) p.substring(1, p.length - 1)
    else p
  }

  /** Column form: text -> array<string> of mentions. A UDF (not codegen):
    * the grammar's ordered remove-and-rescan passes don't decompose into
    * independent regexp built-ins. Upgrade path per SURVEY §7.3 is a custom
    * Expression with doGenCode if this ever lands on a BENCH hot path.
    */
  val parse_mentions: UserDefinedFunction = udf((s: String) => parseMentions(s))

  // ===== C3: truncation with marker (trace_aggregator.py:41-53) =====

  def truncateWithMarker(c: Column, maxLen: Int): Column =
    when(length(c) > maxLen, concat(substring(c, 1, maxLen), lit("... (truncated)"))).otherwise(c)

  // ===== C5: "30m"/"2h"/"1d" -> seconds (automation_scheduler.py:286-318) =====

  def parseIntervalSeconds(c: Column): Column = {
    val num  = regexp_extract(c, "^([0-9]+)([smhd])$", 1)
    val unit = regexp_extract(c, "^([0-9]+)([smhd])$", 2)
    when(num === "", lit(null).cast("long"))
      .otherwise(
        num.cast("long") * when(unit === "s", 1L).when(unit === "m", 60L)
          .when(unit === "h", 3600L).otherwise(86400L))
  }

  // ===== C6: cron field validation (models/automations.py:41-45) =====

  def isValidCronShape(c: Column): Column = size(split(trim(c), "\\s+")).isin(5, 6)

  // ===== C7: path functions (treeUtils.ts:23-49; directories.py:71-74) =====

  def pathBasename(c: Column): Column = element_at(split(c, "/"), -1)
  def pathParent(c: Column): Column =
    when(size(split(c, "/")) > 1,
      array_join(slice(split(c, "/"), lit(1), size(split(c, "/")) - 1), "/")).otherwise(lit(""))
  def pathDepth(c: Column): Column = size(split(c, "/"))

  /** All prefix paths of a /-separated path, shallowest first — the G5
    * ancestor-walk helper (amplified_directory_service.py:71-95).
    */
  def pathPrefixes(c: Column): Column =
    transform(
      sequence(lit(1), size(split(c, "/"))),
      i => array_join(slice(split(c, "/"), lit(1), i), "/"))

  // ===== C10: URL normalization (ref_resolution.py:402-424) =====

  /** Lowercase scheme+host, strip default ports and trailing slash, sort
    * query params. Small UDF — java.net.URI does the parsing.
    */
  val normalize_url: UserDefinedFunction = udf { (url: String) =>
    if (url == null) null
    else
      try {
        val u      = new java.net.URI(url.trim)
        val scheme = Option(u.getScheme).map(_.toLowerCase).getOrElse("")
        val host   = Option(u.getHost).map(_.toLowerCase).getOrElse("")
        val port = u.getPort match {
          case -1                            => ""
          case 80 if scheme == "http"        => ""
          case 443 if scheme == "https"      => ""
          case p                             => s":$p"
        }
        val path = Option(u.getPath).getOrElse("") match {
          case p if p.length > 1 && p.endsWith("/") => p.dropRight(1)
          case p                                    => p
        }
        val query = Option(u.getQuery)
          .map(_.split("&").toSeq.sorted.mkString("&"))
          .filter(_.nonEmpty)
          .map("?" + _)
          .getOrElse("")
        s"$scheme://$host$port$path$query"
      } catch { case _: Exception => url }
  }

  // ===== C15: deterministic short ids (routers/sessions.py:307-309 uses uuid4.hex[:8]) =====

  /** Content-derived 8-hex id with an entity prefix — the deterministic
    * analog of the reference's random short ids (same shape, replayable).
    */
  def shortId(prefix: String, c: Column): Column =
    concat(lit(prefix), lit("_"), substring(sha2(c.cast("string"), 256), 1, 8))

  // ===== Language-ID n-gram profile (text-analysis extension) =====

  /** Stopword profiles for the language scorer: 15 high-frequency function
    * words per language (public-knowledge word lists). Function words are
    * the standard cheap language signal — content words travel between
    * languages, articles/prepositions don't. Overlapping forms ("de" is
    * Spanish/French/Portuguese/Dutch, "la" Spanish/French/Italian) are
    * resolved by the argmax over the full profile, not by any single word.
    */
  private[graft] val StopwordProfiles: Map[String, Set[String]] = Map(
    "en" -> Set("the", "a", "of", "and", "to", "in", "is", "that", "it", "for",
      "on", "with", "as", "this", "was"),
    "es" -> Set("el", "la", "de", "que", "y", "en", "un", "es", "los", "las",
      "una", "con", "por", "para", "del"),
    "fr" -> Set("le", "la", "de", "et", "un", "est", "que", "les", "des", "du",
      "dans", "pour", "sur", "avec", "nous"),
    "de" -> Set("der", "die", "das", "und", "ist", "von", "ein", "zu", "den",
      "dem", "mit", "für", "auf", "nicht", "sich"),
    "it" -> Set("il", "la", "di", "che", "e", "un", "per", "con", "del", "una",
      "sono", "nel", "della", "questo", "si"),
    "pt" -> Set("o", "a", "de", "que", "e", "um", "uma", "para", "com", "os",
      "as", "do", "da", "em", "não"),
    "nl" -> Set("de", "het", "een", "en", "van", "is", "dat", "op", "te",
      "met", "voor", "niet", "zijn", "aan"),
  )

  /** Stopword-profile language scorer for real text: fraction of tokens in
    * each language's stopword profile; argmax wins (ties broken by the
    * lexicographically larger code, deterministic), 'und' when no signal.
    * (The oracle-checked x6 query uses the en-only ratio; this is the
    * multi-language API form, driver-checked via x12_lang_id.)
    */
  def langIdOf(text: String): String =
    if (text == null || text.isEmpty) "und"
    else {
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (toks.isEmpty) "und"
      else {
        val scores = StopwordProfiles.view
          .mapValues(s => toks.count(s.contains).toDouble / toks.length).toMap
        val (best, score) = scores.maxBy { case (k, v) => (v, k) }
        if (score > 0.02) best else "und"
      }
    }

  val lang_id: UserDefinedFunction = udf(langIdOf _)
}
