package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session factory for every main and the shared test session.
  *
  * Settings every graft run needs:
  *  - shuffle partitions = the master's core count;
  *  - `nanosAsLong`: events.parquet stores TIMESTAMP(NANOS), read as long nanos;
  *  - UTC, explicitly: Tables.load's NTZ→instant ts normalization is
  *    timezone-dependent and must not inherit the JVM default;
  *  - committer v2 (direct task commits): halves the per-directory rename
  *    cost of partitionBy index materialization (local FS, no job-abort risk);
  *  - UI off, log level WARN.
  *
  * Don't shrink spark.sql.files.maxPartitionBytes here: the fixture tables
  * are single-row-group files, so smaller splits only add empty partitions
  * and overhead (measured +25% bench total).
  */
object GraftSession {

  /** Core count: `SPARK_GRAFT_CPUS`, else every processor the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` session. */
  def local(cpus: Int = cpus): SparkSession = at(s"local[$cpus]")

  /** Session on any master, e.g. `local-cluster[2,2,4096]`; `extra` settings
    * are applied last. */
  def at(master: String, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores(master).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val Local = """local\[(\d+|\*)(?:,\d+)?\]""".r
  private val LocalCluster = """local-cluster\[(\d+),\s*(\d+),\s*\d+\]""".r

  /** Total task slots of a master string (`local` = 1, `local[*]` = all). */
  def cores(master: String): Int = master match {
    case "local" => 1
    case Local("*") => Runtime.getRuntime.availableProcessors
    case Local(n) => n.toInt
    case LocalCluster(workers, perWorker) => workers.toInt * perWorker.toInt
    case other => throw new IllegalArgumentException(s"unsupported master: $other")
  }
}
