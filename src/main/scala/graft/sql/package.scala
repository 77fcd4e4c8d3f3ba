package graft

package object sql {

  /** `s` as a SQL string literal: single-quoted, inner quotes doubled. */
  private[sql] def sq(s: String): String = "'" + s.replace("'", "''") + "'"

  /** The catalog's whitespace tokens of text column `text` as a DuckDB
    * list: trimmed, split on runs of spaces, empty strings dropped. */
  private[graft] def toksOf(text: String): String =
    s"list_filter(string_split_regex(trim($text), ' +'), x -> x <> '')"

  /** [[toksOf]] over the `text` column, the form every mirror reads. */
  private[graft] val toks: String = toksOf("text")
}
