package graft.queries

/** DuckDB forms of engine primitives, shared by the oracle SQL of
  * several query files. */
private[queries] object OracleSql {

  /** Word tokenizer: TextStats.tokens. */
  val toks = "regexp_split_to_array(trim(text), '\\s+')"

  /** graft.llm.Similarity.lcg in plain 64-bit integer arithmetic, its
    * pmod input reduction included: (k mod 2^31 + 2^31) mod 2^31. */
  def lcgSql(k: String) =
    s"(1103515245*((($k)%2147483648+2147483648)%2147483648)+12345)%2147483648"

  /** graft.util.Exact.exactSum (scale 6: see there). */
  val dsum = (x: String) => s"CAST(SUM(CAST($x AS DECIMAL(30,6))) AS DOUBLE)"
}
