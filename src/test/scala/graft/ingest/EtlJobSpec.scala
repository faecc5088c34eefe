package graft.ingest

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** End-to-end contract of the ETL service tick, mirroring the
  * reference's pytest coverage of transform_data plus the load-side
  * behaviors its service loop adds (tests/test_etl.py:18-57,
  * etl_job.py:64-132). */
class EtlJobSpec extends SparkSpec {
  import spark.implicits._

  private def record(sno: String, q: String = "30", t: String = "2025-12-10 15:00:00") =
    s"""{"sno":"$sno","sna":"n$sno","sarea":"d1","latitude":25.04,"longitude":121.52,
       |"Quantity":$q,"available_rent_bikes":5,"available_return_bikes":25,
       |"srcUpdateTime":"$t"}""".stripMargin.replace("\n", "")

  private class MemSink {
    val facts = scala.collection.mutable.ArrayBuffer[(String, java.sql.Timestamp)]()
    val dims = scala.collection.mutable.ArrayBuffer[String]()
    def sinks: EtlJob.Sinks = EtlJob.Sinks(
      appendFacts = b => facts ++= b.select("station_no", "record_time")
        .as[(String, java.sql.Timestamp)].collect(),
      insertDims = b => dims ++= b.select("station_no").as[String].collect(),
      existingDimKeys = () => dims.toSeq.toDF("station_no"))
  }

  test("runOnce: transform + dedup + insert-only dims across two ticks") {
    val sink = new MemSink
    // tick 1: replayed fact inside the batch; two stations
    val r1 = EtlJob.runOnce(spark,
      () => Seq(record("s1"), record("s1"), record("s2")).toDS(), sink.sinks)
    assert(r1 === EtlJob.BatchResult(2, 2))
    // +8h Taipei → UTC applied
    assert(sink.facts.forall(_._2.toString.startsWith("2025-12-10 07:00")))
    // tick 2: s1 known (no new dim), s3 new; later timestamp
    val r2 = EtlJob.runOnce(spark,
      () => Seq(record("s1", t = "2025-12-10 15:10:00"), record("s3")).toDS(), sink.sinks)
    assert(r2 === EtlJob.BatchResult(2, 1))
    assert(sink.dims.sorted === Seq("s1", "s2", "s3"))
  }

  test("runOnce: fetch retried with backoff, succeeds on the final attempt") {
    val sink = new MemSink
    var calls = 0
    val r = EtlJob.runOnce(spark, () => {
      calls += 1
      if (calls < 3) throw new RuntimeException(s"timeout $calls")
      Seq(record("s9")).toDS()
    }, sink.sinks, attempts = 3, backoffMs = 1)
    assert(calls === 3)
    assert(r === EtlJob.BatchResult(1, 1))
  }

  test("runOnce: empty extract and missing columns fail loudly, nothing sunk") {
    val sink = new MemSink
    intercept[IngestBatch.EmptyBatchException] {
      EtlJob.runOnce(spark, () => Seq.empty[String].toDS(), sink.sinks, backoffMs = 1)
    }
    intercept[IngestBatch.MissingColumnsException] {
      EtlJob.runOnce(spark, () => Seq("""{"sno":"1","sna":"A"}""").toDS(),
        sink.sinks, backoffMs = 1)
    }
    assert(sink.facts.isEmpty && sink.dims.isEmpty)
  }

  test("runOnce: malformed Quantity is null (lenient cast), not a job failure") {
    val sink = new MemSink
    val r = EtlJob.runOnce(spark,
      () => Seq(record("s1", q = "\"N/A\"")).toDS(), sink.sinks)
    assert(r.factsAppended === 1)
  }

  private def pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def legsAlive = Thread.getAllStackTraces.keySet.asScala
    .filter(t => t.getName == "etl-tick-leg" && t.isAlive)

  test("runOnce loads dims before facts: every fact's station is already a dim") {
    // station_status.station_no references station_info
    // (sql/init_schema.sql:18-19): a fact sink with that foreign key
    // rejects a fact whose station was not inserted first
    val sink = new MemSink
    val fk = sink.sinks.copy(appendFacts = b => {
      val orphans = b.select("station_no").as[String].collect().toSet -- sink.dims
      if (orphans.nonEmpty)
        throw new IllegalStateException(s"foreign key: unknown stations ${orphans.toSeq.sorted}")
      sink.sinks.appendFacts(b)
    })
    assert(EtlJob.runOnce(spark,
      () => Seq(record("s1"), record("s2")).toDS(), fk) === EtlJob.BatchResult(2, 2))
    assert(EtlJob.runOnce(spark,
      () => Seq(record("s1", t = "2025-12-10 15:10:00"), record("s3")).toDS(), fk) ===
      EtlJob.BatchResult(2, 1))
    assert(sink.facts.map(_._1).sorted === Seq("s1", "s1", "s2", "s3"))
  }

  test("runOnce frees its checkpoints, also when a sink throws") {
    val before = pinned
    val sink = new MemSink
    assert(EtlJob.runOnce(spark,
      () => Seq(record("s1"), record("s2")).toDS(), sink.sinks) === EtlJob.BatchResult(2, 2))
    assert(pinned === before)
    assert(legsAlive.isEmpty)

    var factCalls = 0
    val counting = sink.sinks.copy(appendFacts = b => { factCalls += 1; sink.sinks.appendFacts(b) })
    def failure(what: String) = new IllegalStateException(s"$what: warehouse down")
    val timeout = new java.io.IOException("station API timeout")
    // (failing step, sinks, fetch, its exception, appendFacts calls);
    // each tick brings a new station so insertDims is reached
    val appendDown = failure("appendFacts")
    val keysDown = failure("existingDimKeys")
    val insertDown = failure("insertDims")
    val cases = Seq(
      ("appendFacts", counting.copy(appendFacts = _ => { factCalls += 1; throw appendDown }),
        () => Seq(record("s3")).toDS(), appendDown, 1),
      ("existingDimKeys", counting.copy(existingDimKeys = () => throw keysDown),
        () => Seq(record("s4")).toDS(), keysDown, 0),
      ("insertDims", counting.copy(insertDims = _ => throw insertDown),
        () => Seq(record("s5")).toDS(), insertDown, 0),
      ("fetch", counting, () => throw timeout, timeout, 0))
    for ((what, sinks, fetch, expected, appends) <- cases) {
      factCalls = 0
      val e = intercept[Exception] {
        EtlJob.runOnce(spark, fetch, sinks, attempts = 2, backoffMs = 1)
      }
      assert(e eq expected, s"$what: the failing step's own exception, unwrapped; got $e")
      assert(factCalls === appends, s"$what: appendFacts calls")
      assert(pinned === before, what)
      assert(legsAlive.isEmpty, what)
    }
  }

  test("runOnce waits out an interrupt of its caller: legs joined, checkpoints freed") {
    val before = pinned
    val sink = new MemSink
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slowKeys = sink.sinks.copy(existingDimKeys = () => {
      entered.countDown()
      release.await()
      sink.dims.toSeq.toDF("station_no")
    })
    // Right(interrupt flag still set) on return, Left(exception) on a throw
    @volatile var outcome: Either[Throwable, Boolean] = null
    val caller = new Thread(() => outcome =
      try {
        EtlJob.runOnce(spark, () => Seq(record("s1"), record("s2")).toDS(), slowKeys)
        Right(Thread.currentThread().isInterrupted)
      } catch { case e: Throwable => Left(e) })
    caller.start()
    assert(entered.await(30, TimeUnit.SECONDS))
    // interrupt the caller once it waits on the blocked key leg
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (!caller.getStackTrace.exists(f =>
        f.getClassName == "java.lang.Thread" && f.getMethodName == "join")) {
      assert(System.nanoTime() < deadline, "caller never joined the key leg")
      Thread.sleep(5)
    }
    caller.interrupt()
    Thread.sleep(100)
    assert(caller.isAlive, "runOnce left before its key leg finished")
    release.countDown()
    caller.join(TimeUnit.SECONDS.toMillis(60))
    assert(!caller.isAlive)
    outcome match {
      case Right(flag) => assert(flag, "the caller's interrupt was swallowed")
      case Left(e) => assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[InterruptedException]), s"unexpected failure: $e")
    }
    assert(pinned === before)
    assert(legsAlive.isEmpty)
  }

  test("runOnce job count: no separate count or emptiness-probe job") {
    val sink = new MemSink
    EtlJob.runOnce(spark, () => Seq(record("s1"), record("s2")).toDS(), sink.sinks)
    // schema inference 1; facts: dedup stage + checkpoint 2, sink 1;
    // dims: existing-key broadcast 1, dedup stage + checkpoint 2, sink 1.
    // The fact checkpoint and the key read run on threads runOnce
    // forks; their jobs count here only because a forked thread
    // inherits the caller's local properties (the tag jobsOf sets)
    val jobs = jobsOf {
      assert(EtlJob.runOnce(spark, () => Seq(record("s1", t = "2025-12-10 15:10:00"),
        record("s2", t = "2025-12-10 15:10:00"), record("s3")).toDS(),
        sink.sinks) === EtlJob.BatchResult(3, 1))
    }
    assert(jobs === 8)
  }
}
