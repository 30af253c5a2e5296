package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main (the CLI, the oracle dump,
  * the golden regeneration, the plan dump, the scale-up clone, the
  * streaming bench) and the test session build through it.
  *
  * Mirrors the role of the reference's `Session`
  * (reference: src/gentropy/common/session.py:16-59) without the Hail
  * config. A key is set only when spark-submit (`--master`, `--conf`)
  * or a `-Dspark.*` system property has not already set it, so cluster
  * deployments tune the session from the command line. The band-join
  * rewrite is opt-in the same way:
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object GraftSession {

  /** Effective value of every key the factory manages: the preset
    * `conf` wins, then the environment (`SPARK_MASTER`,
    * `SPARK_SHUFFLE_PARTITIONS`), then the default. */
  def resolve(conf: SparkConf, env: Map[String, String]): Seq[(String, String)] = Seq(
    "spark.master" -> env.getOrElse("SPARK_MASTER", "local[*]"),
    "spark.sql.shuffle.partitions" -> env.getOrElse("SPARK_SHUFFLE_PARTITIONS", "32"),
    // the test data's events table stores ns timestamps, which Spark 4
    // otherwise refuses to read
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC"
  ).map { case (k, v) => k -> conf.get(k, v) }

  /** A builder carrying the resolved settings; callers may override
    * any of them with further builder calls before `getOrCreate()`. */
  def builder(appName: String): SparkSession.Builder =
    resolve(new SparkConf(), sys.env).foldLeft(SparkSession.builder().appName(appName)) {
      case (b, (k, v)) => b.config(k, v)
    }
}
