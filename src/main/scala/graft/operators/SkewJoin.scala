package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed keys.
  *
  * A shuffled equi-join sends every row of a hot key to ONE reducer; at
  * 100 TB a key holding 1% of the fact table serialises 1 TB through a
  * single task. Salting splits each hot key into `salts` sub-keys: the
  * skewed side gets a deterministic salt in [0, salts), the dimension
  * side replicates each row once per salt, and the join runs on
  * (key, salt) — the hot key's rows now spread over `salts` reducers at
  * the cost of a `salts`× blow-up of the (small) dimension side.
  *
  * AQE's skew-join handling (on by default in Spark)
  * covers sort-merge joins adaptively; explicit salting remains the
  * tool when AQE cannot see the skew (first shuffle of a stage, skew
  * materialising only after filters) or for deterministic plan shapes.
  */
object SkewJoin {

  /** Inner equi-join of a skewed `fact` side with a small `dim` side on
    * `factKey == dimKey`. The salt is a uniform deterministic function
    * of the fact row's partition+offset, so results are identical to
    * the unsalted join (it never leaks into the output columns). */
  def saltedJoin(fact: DataFrame, dim: DataFrame,
                 factKey: String, dimKey: String,
                 salts: Int): DataFrame = {
    require(salts > 0, "salts must be positive")
    val salted = fact.withColumn("_salt",
      pmod(monotonically_increasing_id(), lit(salts.toLong)))
    val replicated = dim.withColumn("_salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    salted
      .join(replicated,
        salted(factKey) === replicated(dimKey) &&
          salted("_salt") === replicated("_salt"))
      .drop("_salt")
  }
}
