package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named engine query plus (when SQL-expressible) its DuckDB oracle.
  * `bench` puts the query in the timed battery of [[graft.Bench]]. */
case class Q(fn: (SparkSession, String) => DataFrame, oracle: Option[String],
             bench: Boolean = false)

/** SQL fragments for the DuckDB oracles. Floating-point policy: every
  * reorderable aggregate goes through DECIMAL (exact, associative) and is
  * cast to DOUBLE at the end; per-row double arithmetic is deterministic
  * and identical across engines, so derived expressions need no rounding.
  */
object Sql {
  /** order-independent exact sum of a double expression, as double.
    * DECIMAL(18,6) matches graft.api.functions.dsum (same 6-dp rounding
    * of the same per-row doubles → identical sums). The final double
    * conversion goes VIA VARCHAR: DuckDB's direct DECIMAL→DOUBLE cast
    * double-rounds through the hugeint (1 ulp off once the unscaled sum
    * exceeds 2^53 — two q137 groups at sf1, probed directly), while its
    * string parse — like the JVM's BigDecimal.doubleValue on the Spark
    * side — is correctly rounded, so both engines land on the nearest
    * double of the same exact decimal. */
  def dsum(e: String): String =
    s"CAST(CAST(SUM(CAST($e AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)"
  /** exact mean of a double expression, as double (nulls skipped). */
  def davg(e: String): String = s"(${dsum(e)} / COUNT($e))"
  /** exact bigint sum (DuckDB SUM(int) is HUGEINT — normalize). */
  def isum(e: String): String = s"CAST(SUM($e) AS BIGINT)"
  /** graft.api.Frame.portableMix in ANSI SQL — identical arithmetic. */
  def mix(e: String): String =
    s"((((($e) % 2147483647) * 2654435761 + 2246822519) % 2147483647) * 2246822519 % 2147483647)"
  /** TextAnalysis.portableWordHash's char polynomial in DuckDB SQL:
    * fold (acc·31 + codepoint) mod 2³¹−1 over the word's characters
    * (DuckDB ascii() and Spark ascii() both return the Unicode code
    * point of the first character — verified incl. CJK). `w` is a SQL
    * expression yielding the word. */
  def charPoly(w: String): String =
    s"list_reduce(list_prepend(7::BIGINT, list_transform(string_split_regex($w,''), " +
      "c -> ascii(c)::BIGINT)), (acc, x) -> (acc * 31 + x) % 2147483647)"
  /** TextAnalysis.portableWordHash in DuckDB SQL. */
  def wordHash(w: String): String = mix(charPoly(w))
}
