package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared deterministic local session for specs, mirroring the
  * reference's test harness (reference: src/utils/spark.py:10-39 —
  * local master, shuffle.partitions=1). Built through [[GraftSession]]
  * (UTC, nanosAsLong) with the master and partitions pinned here.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session; never stop per-suite
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession
      .builder("graft-test")
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
