package graft.sql

import graft.text.UnicodeAnalyzer

/** DuckDB oracle for the [[graft.text.UnicodeAnalyzer]] word-frequency
  * query. Literals (stopwords, lemma map, noise lists, fixture phrases)
  * derive from the SAME analyzer instance the Spark side uses, so the two
  * engines cannot diverge on configuration.
  *
  * Regex dialect note: DuckDB is RE2 — `\p{L}`/`\p{N}` work, but character
  * escapes are `\x{200C}`, there are no backreferences and no lookaround.
  * The oracle therefore only supports analyzer configurations with
  * `correctSpacing`/`decreaseRepeatedChars` OFF (both need Java-regex
  * features); those options are pinned by unit tests instead.
  */
object UnicodeSql {

  /** Word frequency over `table.text` augmented with a deterministic
    * Persian-ish phrase keyed on `doc_id % phrases.size` — the fixture that
    * exercises ZWNJ tokens, Arabic-codepoint unification, diacritics,
    * lemma `#` convention and the ASCII-noise filters on both engines. */
  def wordFrequency(
      table: String, a: UnicodeAnalyzer, phrases: Seq[String], topN: Int): String = {
    require(!a.correctSpacing && !a.decreaseRepeatedChars,
      "oracle SQL cannot mirror correctSpacing/decreaseRepeatedChars (RE2)")
    val phraseCase = phrases.zipWithIndex
      .map { case (p, i) => s"WHEN $i THEN ${sq(p)}" }
      .mkString(" ")
    val norm = {
      var e = "t"
      if (a.unicodeReplacement)
        e = s"translate($e, ${sq(UnicodeAnalyzer.CharMapFrom)}, ${sq(UnicodeAnalyzer.CharMapTo)})"
      if (a.removeDiacritics)
        e = s"regexp_replace($e, '[\\x{064B}-\\x{065F}\\x{0670}\\x{0640}]', '', 'g')"
      e
    }
    val lemmaCase =
      if (a.lemmas.isEmpty) "w0"
      else a.lemmas.toSeq.sortBy(_._1)
        .map { case (k, v) => s"WHEN ${sq(k)} THEN ${sq(v)}" }
        .mkString("CASE w0 ", " ", " ELSE w0 END")
    val stopList = a.stopwords.map(s => sq(s.toLowerCase(java.util.Locale.ROOT))).mkString(", ")
    val webPred = a.webNoise.map(n => s"contains(lower(w), ${sq(n)})").mkString(" OR ")
    val noiseList = a.asciiNoise.map(s => sq(s.toLowerCase(java.util.Locale.ROOT))).mkString(", ")
    s"""WITH base AS (
  SELECT text || ' ' || CASE CAST(doc_id % ${phrases.size} AS BIGINT) $phraseCase END AS t
  FROM $table WHERE text IS NOT NULL),
norm AS (SELECT $norm AS t FROM base),
tok AS (SELECT unnest(string_split_regex(t, '[^\\p{L}\\p{N}\\x{200C}]+')) AS w0 FROM norm),
lem AS (SELECT split_part($lemmaCase, '#', 1) AS w FROM tok)
SELECT w AS word, COUNT(*) AS n FROM lem
WHERE length(w) >= ${a.minLen}
  AND lower(w) NOT IN ($stopList)
  AND NOT regexp_matches(w, '\\p{N}')
  AND NOT ($webPred)
  AND regexp_matches(w, '^[آ-یa-zA-Z\\x{200C}]+$$')
  AND NOT (regexp_matches(w, '^[a-zA-Z]+$$')
    AND (length(w) > ${a.asciiMaxLen} OR lower(w) IN ($noiseList)))
GROUP BY w ORDER BY n DESC, word ASC LIMIT $topN"""
  }
}
