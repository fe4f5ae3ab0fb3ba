package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is configured. Every entry point
  * (Main, Verify, Bench, PlanAudit) and the test session start from
  * [[builder]] and add only their own extras; applications that build
  * their own session set the same keys (OPERATING.md "Session wiring"). */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the machine's cores capped at the 32 the
    * target environment documents — a fixed low default would silently
    * under-parallelize runs that do not set the variable. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(Runtime.getRuntime.availableProcessors, 32))

  /** The session settings as local defaults: a key the launch conf
    * already carries is left out, because builder options beat the
    * launch conf and would silently turn a `spark-submit --master
    * yarn` run into `local[cores]`. */
  private[graft] def defaults(cores: Int, launch: SparkConf)
  : Seq[(String, String)] =
    Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      // events.parquet carries TIMESTAMP(NANOS); read as long and
      // convert in Tables.t (Spark has no nanos timestamp type)
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      // applied when the context starts: callers need no setLogLevel
      "spark.log.level" -> "WARN"
    ).filterNot { case (k, _) => launch.contains(k) }

  /** `new SparkConf()` reads the `spark.*` system properties, which is
    * how `spark-submit --master/--conf` hand their keys to the driver. */
  def builder(cores: Int = cpus): SparkSession.Builder =
    defaults(cores, new SparkConf()).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }
}
