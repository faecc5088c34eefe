package graft.ingest

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

  test("runOnce frees its checkpoints, also when a sink throws") {
    val sc = spark.sparkContext
    def pinned = sc.getPersistentRDDs.keySet.toSet
    val before = pinned
    val sink = new MemSink
    assert(EtlJob.runOnce(spark,
      () => Seq(record("s1"), record("s2")).toDS(), sink.sinks) === EtlJob.BatchResult(2, 2))
    assert(pinned === before)
    val failing = sink.sinks.copy(appendFacts = _ => throw new IllegalStateException("warehouse down"))
    intercept[IllegalStateException] {
      EtlJob.runOnce(spark, () => Seq(record("s3")).toDS(), failing)
    }
    assert(pinned === before)
  }

  test("runOnce job count: no separate count or emptiness-probe job") {
    val sink = new MemSink
    EtlJob.runOnce(spark, () => Seq(record("s1"), record("s2")).toDS(), sink.sinks)
    // schema inference 1; facts: dedup stage + checkpoint 2, sink 1;
    // dims: existing-key broadcast 1, dedup stage + checkpoint 2, sink 1
    val jobs = jobsOf {
      assert(EtlJob.runOnce(spark, () => Seq(record("s1", t = "2025-12-10 15:10:00"),
        record("s2", t = "2025-12-10 15:10:00"), record("s3")).toDS(),
        sink.sinks) === EtlJob.BatchResult(3, 1))
    }
    assert(jobs === 8)
  }
}
