package graft

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

  def builder(cores: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      // hash arithmetic (minhash perms, fingerprints) relies on 64-bit
      // wrap-around multiplication, like every hash library
      .config("spark.sql.ansi.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); read as long and
      // convert in Tables.t (Spark has no nanos timestamp type)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // applied when the context starts: callers need no setLogLevel
      .config("spark.log.level", "WARN")
}
