package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.ingest.EtlJob
import graft.streaming.ScheduledEtl

/** Seeded YouBike station snapshots, one per 10-minute tick: about
  * 1,500 stations, a few new stations arriving every tick, some
  * stations offline or reporting a stale update time, replayed
  * duplicate records and malformed numeric fields. The generator knows
  * how many facts and new dimension rows each tick must produce, and
  * how many of its `(station_no, record_time)` keys are new to the
  * warehouse. */
final class Snapshots(seed: Long) {
  val BaseStations = 1450
  val NewPerTick = 3
  private val districts = Seq("中正區", "大同區", "中山區", "松山區", "大安區", "萬華區", "信義區",
    "士林區", "北投區", "內湖區", "南港區", "文山區", "臺大公館校區")
  private val seen = mutable.Set[Int]()
  private val seenKeys = mutable.Set[(Int, Int)]()
  private val start = java.time.LocalDateTime.of(2025, 1, 1, 0, 0)
    .plusDays(Math.floorMod(seed, 365L))
  private val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  final case class Snap(tick: Int, records: Seq[String], facts: Long, newDims: Long, newKeys: Long)

  /** Snapshot of `tick`; ticks must be requested in order. */
  def next(tick: Int): Snap = {
    val rnd = new scala.util.Random(seed * 1000003L + tick)
    val now = start.plusMinutes(10L * tick)
    val ids = (0 until BaseStations + NewPerTick * tick).filter(_ => rnd.nextDouble() >= 0.01)
    val recs = mutable.ArrayBuffer[String]()
    val keys = mutable.ArrayBuffer[(Int, Int)]()
    ids.foreach { id =>
      val stale = tick > 0 && rnd.nextDouble() < 0.05
      val t = if (stale) now.minusMinutes(10) else now
      keys += (id -> (if (stale) tick - 1 else tick))
      val qty = 10 + (id * 7919) % 50
      val rent = rnd.nextInt(qty + 1)
      val rentField = if (rnd.nextDouble() < 0.01) "\"N/A\"" else rent.toString
      val qtyField = if (rnd.nextDouble() < 0.005) "\"\"" else qty.toString
      val r = s"""{"sno":"5001${f"$id%05d"}","sna":"站點$id","sarea":"${districts(id % districts.size)}",""" +
        f""""latitude":${25.0 + (id % 97) * 0.002}%.6f,"longitude":${121.45 + (id % 89) * 0.002}%.6f,""" +
        s""""Quantity":$qtyField,"available_rent_bikes":$rentField,""" +
        s""""available_return_bikes":${qty - rent},"srcUpdateTime":"${t.format(fmt)}"}"""
      recs += r
      if (rnd.nextDouble() < 0.02) recs += r
    }
    val fresh = ids.count(id => !seen(id))
    seen ++= ids
    val freshKeys = keys.count(k => !seenKeys(k))
    seenKeys ++= keys
    Snap(tick, rnd.shuffle(recs).toSeq, ids.size.toLong, fresh.toLong, freshKeys.toLong)
  }
}

/** The write path: `ScheduledEtl.start` with exactly-once
  * `FileBatchCommitLog` ticks, each driving `EtlJob.runOnce` over one
  * snapshot into parquet warehouse sinks. The fact sink skips keys the
  * warehouse already holds, as the reference's unique key on
  * `(station_no, record_time)` does. The benchmark fires each tick
  * (a MemoryStream row) and waits for its commit marker, so the next
  * tick starts only after the current one ends. */
final class EtlRun(spark: SparkSession, work: Path, seed: Long, rec: Recorder) {
  import spark.implicits._

  private val factSchema = StructType(Seq(
    StructField("station_no", StringType), StructField("bikes_available", IntegerType),
    StructField("spaces_available", IntegerType), StructField("record_time", TimestampType)))
  private val dimSchema = StructType(Seq(
    StructField("station_no", StringType), StructField("name_tw", StringType),
    StructField("district", StringType), StructField("lat", DoubleType),
    StructField("lng", DoubleType), StructField("total_spaces", IntegerType)))

  private var warehouse: Path = work
  private def factsDir = warehouse.resolve("station_status").toString
  private def dimsDir = warehouse.resolve("station_info").toString
  private var inits = 0

  /** Create an empty warehouse (fact and dimension tables) in a fresh
    * directory. Returns its seconds. */
  def initWarehouse(): Double = {
    inits += 1
    val t = System.nanoTime()
    warehouse = Files.createDirectories(work.resolve(s"warehouse-$inits"))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], factSchema)
      .write.parquet(factsDir)
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dimSchema)
      .write.parquet(dimsDir)
    (System.nanoTime() - t) / 1e9
  }

  /** Per-tick timings from the wrappers around fetch, sinks and commit. */
  final class Tick {
    @volatile var fetchStart, fetchEnd, resultAt, committedAt = 0L
    @volatile var sinkNs, attempts, records = 0L
    @volatile var result: Option[EtlJob.BatchResult] = None
    val sinkSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  }
  private val ticks = new ConcurrentHashMap[Long, Tick]()
  @volatile private var current: Snapshots#Snap = _
  @volatile private var currentTick: Tick = _
  private val failFirstAttempt = mutable.Set[Int]()

  private def fetch(): Dataset[String] = {
    val tk = currentTick
    val t = System.nanoTime()
    if (tk.fetchStart == 0L) tk.fetchStart = t
    tk.attempts += 1
    if (tk.attempts == 1 && failFirstAttempt(current.tick))
      throw new java.io.IOException("station API timeout (injected)")
    val ds = spark.createDataset(current.records)(Encoders.STRING)
    tk.fetchEnd = System.nanoTime()
    ds
  }

  private def timedSink(write: DataFrame => Unit): DataFrame => Unit = df => {
    val t = System.nanoTime()
    write(df)
    val e = System.nanoTime()
    currentTick.sinkNs += e - t
    currentTick.sinkSpans.add((t, e))
  }

  private val factKey = Seq("station_no", "record_time")
  private val sinks = EtlJob.Sinks(
    appendFacts = timedSink { df =>
      val existing = spark.read.parquet(factsDir).select(factKey.head, factKey.tail: _*)
      df.join(existing, factKey, "left_anti").write.mode("append").parquet(factsDir)
    },
    insertDims = timedSink(_.write.mode("append").parquet(dimsDir)),
    existingDimKeys = () => spark.read.parquet(dimsDir).select("station_no"))

  private final class TimedCommitLog(inner: ScheduledEtl.FileBatchCommitLog)
      extends ScheduledEtl.BatchCommitLog {
    override def isCommitted(batchId: Long): Boolean = inner.isCommitted(batchId)
    override def commit(batchId: Long): Unit = {
      inner.commit(batchId)
      ticks.get(batchId).committedAt = System.nanoTime()
    }
  }

  private val gen = new Snapshots(seed)
  private val failRnd = new scala.util.Random(seed ^ 0x5DEECE66DL)
  private var query: StreamingQuery = _
  private var tickSrc: MemoryStream[Long] = _
  private var nextTick = 0
  private val expectedKeys = mutable.ArrayBuffer[Long]()

  /** Backoff between fetch attempts, scaled down from the reference's
    * 2 s so an injected timeout costs a retry, not the whole tick. */
  val BackoffMs = 20L

  def start(): Unit = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    tickSrc = MemoryStream[Long]
    query = ScheduledEtl.start(spark, () => fetch(), sinks,
      interval = "0 seconds", attempts = 3, backoffMs = BackoffMs,
      ticks = Some(tickSrc.toDF()),
      checkpointDir = Some(work.resolve("checkpoint").toString),
      onResult = (b, r) => { val tk = ticks.get(b); tk.result = Some(r); tk.resultAt = System.nanoTime() },
      commitLog = Some(new TimedCommitLog(
        new ScheduledEtl.FileBatchCommitLog(work.resolve("commits")))))
  }

  /** Fire one tick and wait for it; check its counts afterwards. */
  def tick(phase: String, tracer: Option[Tracer] = None): (OpRec, Long) = {
    val snap = gen.next(nextTick)
    if (nextTick > 0 && failRnd.nextDouble() < 0.1) failFirstAttempt += nextTick
    val batchId = nextTick.toLong
    nextTick += 1
    val tk = new Tick
    tk.records = snap.records.size.toLong
    ticks.put(batchId, tk)
    current = snap
    currentTick = tk
    val id = batchId.toInt
    require(id == rec.newId(), "tick ids follow batch ids")
    val t0 = System.nanoTime()
    var error = ""
    try {
      tickSrc.addData(batchId)
      query.processAllAvailable()
    } catch {
      case NonFatal(e) => error = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    }
    val done = System.nanoTime()
    val t1 = if (tk.committedAt > 0) tk.committedAt else done
    if (error.isEmpty) tk.result match {
      case Some(EtlJob.BatchResult(f, d)) if f == snap.facts && d == snap.newDims => ()
      case Some(r) => error = s"tick $batchId: facts ${r.factsAppended}/${snap.facts} dims ${r.dimsInserted}/${snap.newDims}"
      case None => error = s"tick $batchId: no result"
    }
    if (tk.committedAt == 0L && error.isEmpty) error = s"tick $batchId: no commit marker"
    expectedKeys += snap.newKeys
    val (rdds, bytes) = Host.storage(spark.sparkContext)
    val r = rec.add(OpRec(id, "tick", phase, t0, t1, 0.0, error.isEmpty, error,
      rdds, bytes))
    tracer.foreach { tr =>
      // Spark reports the trigger's progress after the batch commits
      tr.streamLayer.await(batchId, 5000L)
      val sp = tr.spans
      val root = sp.add(id, "op:tick", t0, t1)
      if (tk.fetchStart > 0 && tk.resultAt > 0) {
        val run = sp.add(id, "ingest.runOnce", tk.fetchStart, tk.resultAt, root)
        sp.add(id, "ingest.fetch", tk.fetchStart, tk.fetchEnd, run)
        tk.sinkSpans.forEach { case (a, b) => sp.add(id, "ingest.sink", a, b, run) }
      }
    }
    if (error.nonEmpty) System.err.println(s"[perfbench] FAILED tick: $error")
    (r, System.nanoTime() - done)
  }

  /** `count` ticks; with a tracer, every other tick is traced (see
    * [[Phase.run]]). */
  def ticks(count: Int, phase: String, tracer: Option[Tracer] = None): Phase =
    Phase.run(count, phase, tracer)((_, p, t) => tick(p, t))

  /** Per-layer ingest figures over the given ticks. */
  def ingestLayer(ids: Seq[Int]): Map[String, Double] = {
    val tks = ids.map(i => ticks.get(i.toLong)).filter(t => t != null && t.resultAt > 0)
    if (tks.isEmpty) return Map.empty
    val fetch = tks.map(t => (t.fetchEnd - t.fetchStart) / 1e9)
    val sink = tks.map(_.sinkNs / 1e9)
    val engine = tks.map(t => (t.resultAt - t.fetchStart) / 1e9).zip(fetch.zip(sink))
      .map { case (run, (f, s)) => run - f - s }
    Map(
      "ingest.fetch_s" -> Stats.median(fetch),
      "ingest.engine_s" -> Stats.median(engine),
      "ingest.sink_s" -> Stats.median(sink),
      "ingest.retries" -> tks.map(_.attempts - 1).sum.toDouble / tks.size,
      "ingest.records_per_tick" -> tks.map(_.records).sum.toDouble / tks.size)
  }

  /** Stop the query; check the warehouse holds each distinct fact key
    * the snapshots produced, once. */
  def stop(): Option[String] = {
    query.stop()
    val facts = spark.read.parquet(factsDir)
    val (rows, keys) = (facts.count(), facts.select(factKey.head, factKey.tail: _*).distinct().count())
    if (rows == expectedKeys.sum && keys == rows) None
    else Some(s"warehouse holds $rows facts with $keys distinct keys, expected ${expectedKeys.sum}")
  }
}
