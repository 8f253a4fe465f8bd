package graft

/** The one JSON string escaper behind every hand-rendered record
  * (Bench/ScaleBench/SpillBench lines, Verify's and FuzzDiff's
  * oracle_sql.json, the model run log, metrics and lineage exports).
  * Quote, backslash and every control character (< 0x20) are escaped,
  * the controls in `\uXXXX` form: exception messages and builder-authored
  * SQL routinely carry newlines and tabs, and one raw control character
  * breaks a one-line record for every JSON reader downstream. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }

  /** `s` as a quoted JSON string literal. */
  def str(s: String): String = "\"" + esc(s) + "\""
}
