package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the dev mains (`Profile`, `Explain`,
  * `ScaleSmoke`): `local[cpus]` with as many shuffle partitions, UTC, no
  * UI, and the graft extensions — so dev runs resolve lake SQL and size
  * the generated-code cache the same way `Bench` and lakebench do.
  * `Bench` and `Verify` keep their own builders. */
object DevSession {
  def apply(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
            logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
