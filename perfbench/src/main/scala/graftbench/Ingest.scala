package graftbench

import graft.functions.VectorFunctions.Euclidean
import graft.operators.{Ann, ApproxAnn, Bm25, Engine}
import graft.streaming.{IndexMaintenance, StreamingIngest}
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** One CDC event: an upsert carries text and vector, a delete neither. */
final case class CdcEvent(id: Long, text: String, embedding: Seq[Float], op: String,
    ts: java.sql.Timestamp)

/** CDC ingest into an LSH vector segment store and an FTS segment store.
  *
  * Construction bootstraps both stores with `docs` (one seeded vector per
  * document) through `IndexMaintenance.appendVsSegment` (nbits from
  * `autoNbits`) and `appendFtsSegment`, then starts the stream
  * `MemoryStream` → `foreachBatch(StreamingIngest.withCdcMetrics(...))`
  * around both appends, each under `withCompaction`.
  *
  * [[commit]] replays one seeded micro-batch (60% inserts, 30% updates that
  * move a vector or change a text, 10% deletes, plus one marker document),
  * one batch in flight at a time as graft's `StreamLag` runs, then proves
  * the commit searchable: a BM25 search of the reconciled FTS view must
  * find the marker's term, and an LSH search of the reconciled vector view
  * must find the marker's vector; both run inside `engine.withQuiescedRead`.
  */
final class Ingest(res: Result, spark: SparkSession, docs: Seq[String], seed: Long) {
  import Ingest._
  import spark.implicits._

  private val tr = res.tracer
  private val r = new SplittableRandom(seed)
  private val clusters = Gen.clusters(64, Dims, 0.3, r)
  private val live = new Live(new SplittableRandom(seed + 1))
  private var nextId = docs.length.toLong
  val nbits: Int = ApproxAnn.autoNbits(docs.length.toLong)
  private val root = s"${res.opts.work}/stores/ingest"
  private val vs = s"$root/vs"
  private val postings = s"$root/postings"
  private val docLens = s"$root/doclens"
  private val engine = new Engine

  private val compactions = mutable.ArrayBuffer.empty[Double]
  private val segments = mutable.ArrayBuffer.empty[Int]
  private val deleted = mutable.ArrayBuffer.empty[Long]
  private val lags = mutable.ArrayBuffer.empty[Double]
  private val committedEvents = mutable.ArrayBuffer.empty[Int]
  private var batchNo = 0
  @volatile private var currentOp = ""

  val bootstrapMs: Double = {
    val boot = docs.indices.map { i =>
      val v = clusters.sample(r)
      live.put(i.toLong, docs(i), v)
      CdcEvent(i.toLong, docs(i), v.toSeq, "upsert", new java.sql.Timestamp(0L))
    }.toDF()
    val t0 = System.nanoTime()
    IndexMaintenance.appendVsSegment(spark, vs, "id", "embedding", Some("op"), Dims, nbits)(boot, 0L)
    IndexMaintenance.appendFtsSegment(spark, postings, docLens, "id", "text", Some("op"))(boot, 0L)
    Main.ms(t0)
  }

  private def span(name: String)(body: => Unit): Unit = tr.span(name, currentOp)(body)

  private def compaction(fold: => Unit): () => Unit = () => {
    val t0 = System.nanoTime()
    span("streaming.IndexMaintenance.compaction")(fold)
    compactions += Main.ms(t0)
  }

  private val sink: (DataFrame, Long) => Unit = {
    val policy = IndexMaintenance.CompactionPolicy(Compaction)
    val vsAppend = IndexMaintenance.appendVsSegment(spark, vs, "id", "embedding", Some("op"), Dims,
      nbits, segOffset = 1L)
    val ftsAppend = IndexMaintenance.appendFtsSegment(spark, postings, docLens, "id", "text",
      Some("op"), segOffset = 1L)
    val vsSink = IndexMaintenance.withCompaction(spark, vs, policy,
      compaction(IndexMaintenance.compactVsSegments(spark, vs, "id")))(
      (df, id) => span("streaming.IndexMaintenance.vs_append")(vsAppend(df, id)))
    val ftsSink = IndexMaintenance.withCompaction(spark, docLens, policy,
      compaction(IndexMaintenance.compactFtsSegments(spark, postings, docLens, "id")))(
      (df, id) => span("streaming.IndexMaintenance.fts_append")(ftsAppend(df, id)))
    (df, id) => {
      vsSink(df, id); ftsSink(df, id)
      segments += IndexMaintenance.ftsSegmentCount(spark, docLens)
    }
  }

  private val mem = MemoryStream[CdcEvent](spark)
  private val query = {
    val cdc = StreamingIngest.withCdcMetrics(engine, Ks, Index, "bench", tsCol = "ts")(sink)
    mem.toDF().writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        // the batch's Spark jobs are attributed to the batch's own job group
        val sc = df.sparkSession.sparkContext
        val group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", currentOp)
        try span("streaming.StreamingIngest.cdc")(cdc(df, id))
        finally sc.setLocalProperty("spark.jobGroup.id", group)
      }
      .option("checkpointLocation", s"$root/checkpoint")
      .start()
  }

  private def nextBatch(ts: java.sql.Timestamp): (Seq[CdcEvent], CdcEvent, String) = {
    val inserts = (1 to BatchSize * 6 / 10).map { _ =>
      val id = nextId; nextId += 1
      CdcEvent(id, Gen.docText(r), clusters.sample(r).toSeq, "upsert", ts)
    }
    val (updated, removed) = live.pick(BatchSize * 4 / 10).splitAt(BatchSize * 3 / 10)
    val updates = updated.map { id =>
      if (r.nextBoolean()) CdcEvent(id, live.text(id), clusters.sample(r).toSeq, "upsert", ts)
      else CdcEvent(id, Gen.docText(r), live.vec(id).toSeq, "upsert", ts)
    }
    val term = s"zqmarker${batchNo}x"
    val marker = CdcEvent(nextId, s"${Gen.docText(r)} $term", clusters.sample(r).toSeq, "upsert", ts)
    nextId += 1
    val events = inserts ++ updates ++ removed.map(id => CdcEvent(id, null, null, "delete", ts)) :+ marker
    events.foreach(e => if (e.op == "delete") live.remove(e.id) else live.put(e.id, e.text, e.embedding.toArray))
    removed.headOption.foreach(deleted += _)
    (events, marker, term)
  }

  /** Reconciled-view LSH search; returns (id, distance) rows. */
  def annSearch(vec: Seq[Float]): Seq[(Long, Double)] =
    ApproxAnn.searchLsh(IndexMaintenance.readVsSegmentIndex(spark, vs, "id"), "embedding", Seq("id"),
        Euclidean, Ann.AnnRequest(vec, limit = K), nbits)
      .select("id", "distance").as[(Long, Double)].collect().toSeq

  /** Reconciled-view BM25 search, wrapped as `StreamLag` does. */
  def bm25Search(q: String): Seq[(Long, Double)] = {
    val pos = IndexMaintenance.readFtsSegmentIndex(spark, postings, docLens, "id")
    Bm25.searchIndex(Bm25.Index(pos.postings.select("id", "term", "tf"), pos.docLens, "id"), q, K)
      .select("id", "score").as[(Long, Double)].collect().toSeq
  }

  /** One search inside the store fence, timed as class `cls` when given. */
  private def probe[T](cls: Option[String], op: String)(search: => T): T = {
    val f0 = System.nanoTime()
    engine.withQuiescedRead(Ks, Index) {
      tr.record("operators.Engine.fence_wait", op, f0, System.nanoTime())
      val out = tr.span("streaming.IndexMaintenance.reconcile_search", op)(search)
      cls.foreach(res.latency(_, Main.ms(f0)))
      out
    }
  }

  /** Enqueue one batch, wait for its commit, then prove it searchable.
    * Returns false when either probe misses the batch's marker. */
  def commit(timed: Boolean): Boolean = {
    currentOp = s"batch-$batchNo"
    val op = currentOp
    val (events, marker, term) = nextBatch(new java.sql.Timestamp(System.currentTimeMillis()))
    batchNo += 1
    tr.span("batch", op) {
      val t0 = System.nanoTime()
      mem.addData(events)
      tr.span("spark.streaming.trigger", op)(query.processAllAvailable())
      val lag = Main.ms(t0)
      val ok = res.checked(s"$op marker searchable after commit") {
        val fts = probe(Option.when(timed)("seg_bm25"), op)(bm25Search(term))
        require(fts.map(_._1).contains(marker.id), s"marker ${marker.id} missing from BM25 answer $fts")
        require(fts.map(_._2) == fts.map(_._2).sortBy(-_), "BM25 scores not sorted")
        val ann = probe(Option.when(timed)("seg_ann"), op)(annSearch(marker.embedding))
        require(ann.headOption.exists(_._1 == marker.id), s"marker ${marker.id} is not the LSH top hit: $ann")
        require(ann.map(_._2) == ann.map(_._2).sorted, "LSH distances not sorted")
      }.isDefined
      if (ok && timed) { lags += lag; committedEvents += events.length; res.latency("cdc", lag) }
      ok
    }
  }

  /** Stop the stream and check that no sampled delete came back and that
    * the live row count matches the driver-side mirror. */
  def finish(): Unit = {
    query.stop()
    val fts = IndexMaintenance.readFtsSegmentIndex(spark, postings, docLens, "id").docLens
    if (deleted.nonEmpty) {
      val back = IndexMaintenance.readVsSegmentIndex(spark, vs, "id")
        .filter(col("id").isin(deleted.toSeq: _*)).select("id").as[Long].collect().toSet ++
        fts.filter(col("id").isin(deleted.toSeq: _*)).select("id").as[Long].collect()
      deleted.foreach(id => res.checked(s"deleted id $id stays deleted")(
        require(!back.contains(id), s"deleted id $id is live again")))
    }
    val liveRows = fts.count()
    res.checked("live row count matches the driver-side mirror")(
      require(liveRows == live.ids.length, s"$liveRows live rows, expected ${live.ids.length}"))
    res.values("bootstrap_ms") = bootstrapMs
    res.values("nbits") = nbits
    res.values("batch_lag_ms") = lags.toSeq
    res.values("batch_events") = committedEvents.toSeq
    res.values("compaction_ms") = compactions.toSeq
    res.values("segments") = segments.toSeq
    res.values("store_bytes") = bytes(new java.io.File(root)) - bytes(new java.io.File(s"$root/checkpoint"))
    res.values("ingest_store_files") = ServeRead.countFiles(new java.io.File(root))
    res.values("live_rows") = liveRows
  }
}

object Ingest {
  val Ks = "bench"
  val Index = "ingest"
  val Dims = 64
  val K = 10
  val BatchSize = 100
  /** Fold threshold: the bootstrap and the warm-up batch leave 2 segments,
    * so the first timed batch of every run folds both stores and a run
    * measures appends and a compaction at the same position. */
  val Compaction = 2

  /** Driver-side mirror of the live rows, for generating valid events. */
  final class Live(r: SplittableRandom) {
    val ids = mutable.ArrayBuffer.empty[Long]
    private val pos = mutable.HashMap.empty[Long, Int]
    val text = mutable.HashMap.empty[Long, String]
    val vec = mutable.HashMap.empty[Long, Array[Float]]
    def put(id: Long, t: String, v: Array[Float]): Unit = {
      if (!pos.contains(id)) { pos(id) = ids.length; ids += id }
      text(id) = t; vec(id) = v
    }
    def remove(id: Long): Unit = {
      val i = pos.remove(id).get
      val last = ids.remove(ids.length - 1)
      if (last != id) { ids(i) = last; pos(last) = i }
      text.remove(id); vec.remove(id)
    }
    /** `n` distinct live ids. */
    def pick(n: Int): Seq[Long] = {
      val chosen = mutable.LinkedHashSet.empty[Long]
      while (chosen.size < math.min(n, ids.length)) chosen += ids(r.nextInt(ids.length))
      chosen.toSeq
    }
  }

  def bytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
    else if (f.exists()) f.length() else 0L
}
