package graft

import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** The factory's key resolution: preset conf, then environment, then
  * default. Pure — no session is built. */
class GraftSessionSpec extends AnyFunSuite {

  private def resolved(preset: (String, String)*)(env: (String, String)*) =
    GraftSession.resolve(new SparkConf(false).setAll(preset), env.toMap).toMap

  private val master = "spark.master"
  private val partitions = "spark.sql.shuffle.partitions"
  private val nanos = "spark.sql.legacy.parquet.nanosAsLong"
  private val tz = "spark.sql.session.timeZone"

  test("nothing preset, no environment: the defaults") {
    assert(resolved()() == Map(master -> "local[*]", partitions -> "32",
      nanos -> "true", tz -> "UTC"))
  }

  test("environment beats the default for master and shuffle partitions") {
    val r = resolved()("SPARK_MASTER" -> "local[3]",
      "SPARK_SHUFFLE_PARTITIONS" -> "12")
    assert(r(master) == "local[3]")
    assert(r(partitions) == "12")
  }

  test("a preset conf (spark-submit --master/--conf, -D) beats the environment") {
    val r = resolved(master -> "local[1]", partitions -> "7")(
      "SPARK_MASTER" -> "local[3]", "SPARK_SHUFFLE_PARTITIONS" -> "12")
    assert(r(master) == "local[1]")
    assert(r(partitions) == "7")
  }

  test("UTC and nanosAsLong are filled in only when unset") {
    val r = resolved(tz -> "America/New_York", nanos -> "false")()
    assert(r(tz) == "America/New_York")
    assert(r(nanos) == "false")
  }
}
