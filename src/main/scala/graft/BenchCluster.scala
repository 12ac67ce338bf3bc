package graft

import graft.Sweep.fmt

/** One-step-beyond-local[N] evidence (VERDICT r9 #8): time the sf1
  * headline subset under BOTH `local[N]` (threads in one JVM — no
  * serialization across tasks, shuffle via memory/disk shortcuts) and
  * `local-cluster[workers,cores,memMB]` (real executor PROCESSES from the
  * standalone mini-cluster: closures and shuffle blocks actually
  * serialize, transfers cross process boundaries, and a task that
  * accidentally captures driver-only state fails instead of silently
  * working). Equal total cores keeps the comparison about the EXECUTION
  * BOUNDARY, not resources.
  *
  * This is the closest approximation to multi-executor semantics that
  * exists without real infra; divergences beyond serialization overhead
  * (a query that errors only here, or blows far past the local ratio)
  * are exactly the class of bug local[N] cannot see.
  *
  * Usage: BenchCluster <sfDir> [outFile]
  * Env: SPARK_GRAFT_CLUSTER (default "local-cluster[2,cpus/2,8192]"),
  *      SPARK_GRAFT_LOCAL (default "local[cpus]"), SPARK_GRAFT_CPUS,
  *      SPARK_GRAFT_RUNS (default 2), SPARK_GRAFT_ONLY (subset override;
  *      default `SparkEntry.benchSf1Queries`).
  * Requires SPARK_HOME (executor launch) — the run script exports it.
  */
object BenchCluster {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outFile = args.lift(1)
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt)
    val subset = Sweep.only(SparkEntry.benchSf1Queries)
    val cpus = GraftSession.cpus
    val mLocal = sys.env.getOrElse("SPARK_GRAFT_LOCAL", s"local[$cpus]")
    val mCluster = sys.env.getOrElse("SPARK_GRAFT_CLUSTER",
      s"local-cluster[2,${math.max(1, cpus / 2)},8192]")

    // The two masters need SEPARATE SparkContexts — run them sequentially,
    // stopping each before the next (one JVM, one live context at a time).
    def sweep(label: String, master: String): Seq[Sweep.Timed] = {
      // executor processes need the application classes (operators,
      // custom expressions, lambdas run in tasks) — sbt's class dirs —
      // and 3/4 of their worker's memory
      val executor =
        if (!master.startsWith("local-cluster")) Nil
        else {
          val appCp = Seq(
            "target/scala-2.13/classes",
            sys.props.getOrElse("user.dir", ".") + "/target/scala-2.13/classes")
            .map(new java.io.File(_)).filter(_.isDirectory)
            .map(_.getAbsolutePath).distinct.mkString(":")
          val workerMb = master.split("[\\[\\],]").last.trim.toInt
          Seq("spark.executor.extraClassPath" -> appCp,
            "spark.executor.memory" -> s"${workerMb * 3 / 4}m")
        }
      val spark = GraftSession.at(master, executor: _*)
      try {
        Sweep.warm(spark, sfDir, subset)
        Sweep.run(spark, sfDir, subset, runs, s"cluster bench [$label]")
      } finally spark.stop()
    }
    val local = sweep("local", mLocal)
    val cluster = sweep("cluster", mCluster)
    val report = Sweep.pairwise("local_sec", local, "cluster_sec", cluster, ratioDecimals = 2)
    val json =
      s"""{"metric":"local_vs_local_cluster","sf":"${new java.io.File(sfDir).getName}",""" +
        s""""stat":"min_of_$runs","local":"$mLocal","cluster":"$mCluster",""" +
        s""""total_local":${fmt(2)(local.flatMap(_.min).sum)},""" +
        s""""total_cluster":${fmt(2)(cluster.flatMap(_.min).sum)},""" +
        s""""failed":${report.failed},"queries":${report.queries}}"""
    println(json)
    outFile.foreach(Sweep.write(_, json))
  }
}
