package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Manual skew tooling for equi-joins AQE can't fix (broadcast-disabled
  * fact-fact joins where one key holds a double-digit percentage of the
  * rows, or streaming joins where AQE's runtime re-plan is unavailable).
  *
  * A salted join spreads each hot left key over `factor` sub-keys and
  * replicates the right side `factor` times, so the hot key's rows land
  * on `factor` different reducers instead of one. The trade is explicit:
  * right-side shuffle volume multiplies by `factor` — use only when the
  * skew actually dominates (AQE's skew-join mitigation should be the
  * first resort; this is the hammer for when it can't engage).
  */
object Skew {

  private val Salt = "__graft_salt"

  /** inner/left equi-join with salting. The left salt is derived from
    * the CONTENT of the whole left row (xxhash64 over every column), so
    * it is stable across task retries and speculation — partition-id /
    * ordinal salts can reassign a row's shuffle partition on
    * recomputation. Any assignment is correct (each left row joins the
    * right replica carrying its salt); the cost of content-hashing is
    * that fully-identical duplicate rows share a salt and colocate —
    * acceptable, since k identical rows carry no more reducer state
    * than one. */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 factor: Int, how: String = "inner"): DataFrame = {
    require(factor > 1, "saltedJoin: factor must be > 1")
    require(Seq("inner", "left").contains(how),
      "saltedJoin supports inner/left joins")
    val l = left.withColumn(Salt,
      pmod(xxhash64(left.columns.map(col).toIndexedSeq: _*),
        lit(factor)).cast("int"))
    val r = right.withColumn(Salt,
      explode(sequence(lit(0), lit(factor - 1))))
    l.join(r, keys :+ Salt, how).drop(Salt)
  }
}
