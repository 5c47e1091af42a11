package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration every main and spec runs under:
  * the Graft SQL extensions, `cpus` local cores with as many shuffle
  * partitions, the UTC session time zone, TIMESTAMP(NANOS) parquet read
  * as long (`Tables.load` converts it back), and no UI.
  *
  * `SPARK_GRAFT_CPUS` sets the cores where the caller passes none
  * (default: the JVM's available processors); `SPARK_GRAFT_MASTER`
  * replaces the `local[cpus]` master, for running on a cluster.
  */
object GraftSession {

  /** Cores from `SPARK_GRAFT_CPUS` (given as `env`), else every
    * processor the JVM sees; anything but an integer >= 1 is refused. */
  private[graft] def envCpus(env: Option[String]): Int =
    env.fold(Runtime.getRuntime.availableProcessors) { v =>
      v.trim.toIntOption.filter(_ >= 1).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS=$v must be an integer >= 1"))
    }

  def apply(
      cpus: Int = envCpus(sys.env.get("SPARK_GRAFT_CPUS")),
      logLevel: String = "WARN"): SparkSession = {
    require(cpus >= 1, s"cpus $cpus must be >= 1")
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", graft.functions.GraftExtensions.CONF)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
