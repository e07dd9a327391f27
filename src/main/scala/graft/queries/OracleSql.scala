package graft.queries

/** DuckDB-side fragments the query modules' oracle SQL shares, one
  * definition each. Holds no reference to any query object, so reading it
  * from their initializers adds no `<clinit>` cycle. */
private[graft] object OracleSql {

  /** Non-empty space tokens of string expression `e`, the DuckDB
    * restatement of `graft_tokens`. */
  def sqlTokensOf(e: String): String =
    s"list_filter(string_split($e, ' '), x -> x <> '')"

  /** [[sqlTokensOf]] of the `text` column. */
  val sqlTokens: String = sqlTokensOf("text")

  private val hexDigits = "0123456789abcdef"

  /** DuckDB has no conv(hex): decode the first 4 hex chars of `h`
    * positionally. */
  def sqlHex4(h: String): String =
    s"""((strpos('$hexDigits', substr($h, 1, 1)) - 1) * 4096 +
       | (strpos('$hexDigits', substr($h, 2, 1)) - 1) * 256 +
       | (strpos('$hexDigits', substr($h, 3, 1)) - 1) * 16 +
       | (strpos('$hexDigits', substr($h, 4, 1)) - 1))""".stripMargin
}
