package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities.
  *
  * AQE's skew-join splitting (on by default) handles most hot keys at
  * the sort-merge layer; explicit salting remains the tool for extreme
  * single-key skew (one key = 30% of a 100 TB fact table), where
  * splitting a partition isn't enough because every row of the hot key
  * would still meet on one reducer.
  */
object Skew {

  /** Inner equi-join with an s-way salt: the big side scatters each
    * row to one of `salt` sub-keys, the small side replicates `salt`
    * ways, so one hot key fans across `salt` reducers. Result is
    * exactly the plain join's (each big row carries one salt value).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salt: Int): DataFrame = {
    val bigS = big.withColumn("_salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(salt)))
    val smallS = small.withColumn("_salt",
      explode(sequence(lit(0), lit(salt - 1))))
    bigS.join(smallS, Seq(key, "_salt")).drop("_salt")
  }
}
