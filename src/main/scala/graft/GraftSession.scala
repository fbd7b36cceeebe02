package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is configured.
  *
  * [[local]] is the session every main and spec runs on: local[N] with N
  * shuffle partitions. [[submit]] carries the same confs but sets no
  * master, so `spark-submit` chooses the cluster; there, raise
  * `spark.sql.shuffle.partitions` to ~2-3× total cores — AQE (on by
  * default, as is its skew-join rule) coalesces the excess and splits hot
  * partitions.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, else the machine's core count. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int = defaultCpus): SparkSession =
    start("graft",
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.ui.enabled" -> "false")

  def submit(appName: String): SparkSession = start(appName)

  private def start(appName: String, localConfs: (String, String)*): SparkSession = {
    val builder = localConfs.foldLeft(SparkSession.builder().appName(appName)) {
      case (b, (k, v)) => b.config(k, v)
    }
    val spark = builder
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark has no native
      // type for; read as long ns and convert via Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // reclaim reliable checkpoints (Dedup.clusters writes one per CC
      // round) once their RDDs are GC'd — without this they accumulate
      // for the life of the app
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logs.quietDeclaredBoundedWindows()
    spark
  }
}
