package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Command-line options of one benchmark process (see `run.py`). */
final case class Options(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    tiny: Boolean, work: String, cache: String, out: String, cpus: Int)

/** Raw measurements of one run, written as JSON for `run.py`, which
  * derives every reported metric from them. */
final class Result(val opts: Options) {
  val tracer = new Tracer(opts.trace)
  val listener = new Listener
  /** Per-class operation latencies in milliseconds (successful ops only). */
  private val latencies = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  private val failures = new ConcurrentLinkedQueue[String]()
  private val attemptedOps = new AtomicLong(0L)
  val values = mutable.LinkedHashMap.empty[String, Any]
  val setup = mutable.ArrayBuffer.empty[Double]
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def latency(cls: String, ms: Double): Unit =
    latencies.computeIfAbsent(cls, _ => new ConcurrentLinkedQueue[Double]()).add(ms)

  def attempt(): Unit = attemptedOps.incrementAndGet()

  def fail(what: String): Unit = {
    failures.add(what)
    System.err.println(s"[perfbench] FAILED: $what")
  }

  /** Run `body` as one checked operation: an exception is a failure. */
  def checked[T](what: String)(body: => T): Option[T] = {
    attempt()
    try Some(body)
    catch { case e: Throwable => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
  }

  def write(): Unit = {
    val lat = latencies.asScala.map { case (k, q) => k -> q.asScala.toSeq }
    val json = mapper.writeValueAsString(Map(
      "workload" -> opts.workload, "seed" -> opts.seed, "trace" -> opts.trace,
      "cpus" -> opts.cpus, "heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "setup_s" -> setup.toSeq, "attempted" -> attemptedOps.get(),
      "failures" -> failures.asScala.toSeq, "latency_ms" -> lat,
      "values" -> values, "spans" -> tracer.spans.map(_.toSeq),
      "groups" -> (if (opts.trace) listener.snapshot() else Map.empty)))
    java.nio.file.Files.write(java.nio.file.Paths.get(opts.out), json.getBytes("UTF-8"))
  }
}

object Main {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Start a session and, for traced runs, register the listeners. */
  def session(res: Result): SparkSession = {
    val spark = Session.start(res.opts.cpus, res.opts.work)
    if (res.opts.trace) {
      spark.sparkContext.addSparkListener(res.listener)
      spark.listenerManager.register(res.listener)
    }
    spark
  }

  /** Progress line on stderr: seconds since `t0`. */
  def note(what: String, t0: Long): Unit =
    System.err.println(f"[perfbench] $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")

  /** JVM-wide work so far: garbage-collection and JIT-compilation
    * milliseconds, and classes loaded (Spark's generated code included). */
  def jvmWork(): Map[String, Double] = {
    import java.lang.management.ManagementFactory._
    Map("gc_ms" -> getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum,
      "jit_ms" -> getCompilationMXBean.getTotalCompilationTime.toDouble,
      "classes_loaded" -> getClassLoadingMXBean.getTotalLoadedClassCount.toDouble)
  }

  /** JVM work done since the snapshot `before` of [[jvmWork]]. */
  def jvmWorkSince(before: Map[String, Double]): Map[String, Double] =
    jvmWork().map { case (k, v) => k -> (v - before(k)) }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val opts = Options(
      workload = kv("workload"), seed = kv("seed").toLong, seconds = kv("seconds").toDouble,
      trace = kv.getOrElse("trace", "0") == "1", tiny = kv.getOrElse("size", "full") == "tiny",
      work = kv("work"), cache = kv("cache"), out = kv("out"),
      cpus = kv.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
    val res = new Result(opts)
    opts.workload match {
      case "serve-read" => ServeRead.run(res)
      case "batch" => Batch.run(res)
      case "selftest" => SelfTest.run(res)
      case other => sys.error(s"unknown workload: $other")
    }
    if (opts.trace) res.listener.quiesce()
    res.write()
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
