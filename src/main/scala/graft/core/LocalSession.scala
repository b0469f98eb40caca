package graft.core

import org.apache.spark.sql.SparkSession

/** The local session the command-line mains (`Bench`, `Verify`,
  * `BuildRelease`, `MaintainRelease`, `Probe`) run on: `local[cpus]` with
  * `cpus` from `SPARK_GRAFT_CPUS` (else the main's own fallback), one
  * shuffle partition per core, no UI, UTC session time, the legacy
  * TIMESTAMP(NANOS) parquet layout readable (`graft.ops.Tables.requiredConf`)
  * and WARN logging. `extra` confs are set on the builder on top. Engine
  * scan tuning is not set here — [[SessionDefaults]] applies it wherever
  * the library first touches a session. */
object LocalSession {
  def apply(defaultCpus: Int, extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
