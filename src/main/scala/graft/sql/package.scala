package graft

package object sql {

  /** `s` as a SQL string literal: single-quoted, inner quotes doubled. */
  private[sql] def sq(s: String): String = "'" + s.replace("'", "''") + "'"
}
