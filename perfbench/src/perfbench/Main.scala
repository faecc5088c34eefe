package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `run.py`:
  * `--workload <w> --seed <n> --seconds <s> --trace <0|1> --data <dir>
  *  --expected <file> --out <dir> --work <dir>`, or `--record <file>
  *  --oracle <file> --data <dir> --work <dir>` to write the expected
  * outputs and the oracle SQL. The last stdout line is the summary. */
object Main {
  /** Ops a run measures in every query workload (see [[Workloads.core]]):
    * one per registry in `notebook` and `streams`, so a run fits its
    * time; odd, so the median falls on one op rather than between two. */
  val OpsPerRun: Map[String, Int] = Map(
    Workloads.Notebook -> 5, Workloads.Curation -> 5, Workloads.Streams -> 3)
  /** Set-up repetitions whose median is reported. */
  val SetupReps = 3
  /** Unmeasured executions after the warm-up, while the JIT is still
    * compiling the hot paths: passes over the ops, or ETL ticks. */
  val SettlePasses = 1
  val SettleTicks = 4
  /** Reference seconds of one ETL tick on a 4-core host; with the ops'
    * reference costs it turns `--seconds` into a fixed amount of work,
    * so every run on every host takes the same number of samples. */
  val TickRefS = 1.5

  /** Passes or ticks that make up `seconds` of reference work. */
  def count(seconds: Double, unitRefS: Double): Int =
    math.max(1, math.round(seconds / unitRefS).toInt)

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "warmup_s" -> "s", "op_p50_s" -> "s", "ops_per_s" -> "1/s",
    "ok_frac" -> "frac", "mem_peak_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "tables.prime_s" -> "s", "tables.cached_bytes" -> "B",
    "queries.build_s" -> "s", "queries.build_share" -> "frac",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.stage_reuse_share" -> "frac",
    "spark.tasks" -> "count", "spark.sched_delay_s" -> "s", "spark.task_run_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.busy_share" -> "frac",
    "spark.input_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    "spark.shuffle_read_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.peak_exec_mem_bytes" -> "B",
    "storage.pinned_rdds_after_op" -> "count", "storage.pinned_bytes_after_op" -> "B",
    "streaming.triggers" -> "count", "streaming.trigger_s" -> "s",
    "streaming.jobs_per_trigger" -> "count", "streaming.add_batch_s" -> "s",
    "streaming.wal_commit_s" -> "s", "streaming.commit_offsets_s" -> "s",
    "streaming.query_planning_s" -> "s", "streaming.state_commit_s" -> "s",
    "streaming.state_rows" -> "count",
    "ingest.fetch_s" -> "s", "ingest.engine_s" -> "s", "ingest.sink_s" -> "s",
    "ingest.jobs_per_tick" -> "count", "ingest.retries" -> "count",
    "ingest.records_per_tick" -> "count",
    "trace.overhead_share" -> "frac")

  def main(argv: Array[String]): Unit = {
    val code =
      try run(argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  private def noise(spark: SparkSession, cores: Int): Map[String, Double] =
    Map("spin_s" -> graft.Bench.spinProbe(), "spark_job_s" -> Host.sparkJobS(spark, cores))

  def run(opt: Map[String, String]): Int = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val data = opt("data")
    val work = Files.createDirectories(Paths.get(opt("work")))
    val cores = Runtime.getRuntime.availableProcessors
    if (opt.contains("record"))
      return Record.run(Paths.get(opt("record")), Paths.get(opt("oracle")), data, cores)

    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val out = Files.createDirectories(Paths.get(opt("out")))
    require(Workloads.All.contains(workload), s"unknown workload $workload; one of ${Workloads.All.mkString(", ")}")
    Workloads.membership

    def mark(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2f s  $what")
    val spark = graft.LocalRun.session(cores)
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    mark("session ready")
    Host.sparkJobS(spark, cores) // the first job in a JVM is cold; not part of the noise record
    val noiseBefore = noise(spark, cores)
    val rec = new Recorder
    val rnd = new scala.util.Random(seed)
    val layer = mutable.LinkedHashMap[String, Double]()
    val extraChecks = mutable.ArrayBuffer[String]()

    var setupReps: Seq[Double] = Nil
    var warm: Seq[OpRec] = Nil
    var measured: Phase = null
    var untraced: Seq[OpRec] = Nil
    var traced: Seq[OpRec] = Nil
    var tracer: Tracer = null
    var sample: Seq[String] = Nil
    // a traced run alternates untraced and traced ops over the same span
    def split(p: Phase): Unit = {
      untraced = p.ops.filter(_.phase == "untraced")
      traced = p.ops.filter(_.phase == "traced")
    }

    if (workload == Workloads.EtlTicks) {
      val etl = new EtlRun(spark, work, seed, rec)
      setupReps = (1 to SetupReps).map(_ => etl.initWarehouse())
      etl.start()
      warm = Seq(etl.tick("warmup")._1)
      (1 to SettleTicks).foreach(_ => etl.tick("settle"))
      if (!trace) measured = etl.ticks(count(seconds, TickRefS), "measure")
      else {
        tracer = new Tracer(spark, p => Option(p.getProperty("streaming.sql.batchId")).map(_.toInt).getOrElse(-1))
        split(etl.ticks(math.max(2, count(seconds, TickRefS)), "measure", Some(tracer)))
        val ids = traced.map(_.id)
        layer ++= etl.ingestLayer(ids)
        layer("ingest.jobs_per_tick") = ids.map(i => tracer.sparkLayer.accOf(i).jobs).sum.toDouble / ids.size
      }
      etl.stop().foreach(extraChecks += _)
    } else {
      val expected = Expected.load(Paths.get(opt("expected")))
      val qr = new QueryRun(spark, data, expected, rec)
      setupReps = (1 to SetupReps).map(_ => qr.prime())
      layer("tables.prime_s") = Stats.median(setupReps)
      val picked = Workloads.core(Workloads.membership(workload), expected.refS, OpsPerRun(workload))
      sample = picked.map(_.name)
      mark("set-up done")
      warm = picked.map(q => qr.exec(q, "warmup")._1)
      (1 to SettlePasses).foreach(_ => picked.foreach(q => qr.exec(q, "settle")))
      mark("warm-up done")
      val passRefS = picked.map(q => expected.refS(q.name)).sum
      if (!trace) measured = qr.passes(picked, count(seconds, passRefS), "measure", rnd)
      else {
        tracer = new Tracer(spark, p => Option(p.getProperty("perfbench.op")).map(_.toInt).getOrElse(-1))
        split(qr.passes(picked, math.max(2, count(seconds, passRefS)), "measure", rnd, Some(tracer)))
        layer("queries.build_s") = Stats.median(traced.map(_.buildS))
        layer("queries.build_share") = traced.map(_.buildS).sum / traced.map(_.s).sum
      }
    }
    mark("workload done")
    val noiseAfter = noise(spark, cores)
    val memPeakMb = Host.peakRssMb()

    val ops = rec.all.toSeq
    val failed = ops.count(!_.ok) + extraChecks.size
    val attempted = ops.size
    val metrics = mutable.LinkedHashMap[String, Double]()
    if (!trace) {
      val good = measured.ops.filter(_.ok)
      val lat = if (good.nonEmpty) good.map(_.s) else measured.ops.map(_.s)
      val (tailV, tailPct, tailN) = Stats.tail(lat)
      metrics("setup_s") = sessionS + Stats.median(setupReps)
      metrics("warmup_s") = warm.map(_.s).sum
      metrics("op_p50_s") = Stats.median(lat)
      metrics("ops_per_s") = good.size / measured.wallS
      metrics("ok_frac") = (attempted - failed).toDouble / attempted
      metrics("mem_peak_mb") = memPeakMb
      // recorded, not gated: with a few distinct ops per run this
      // percentile lands on one op's samples and spread up to 0.27 across
      // seeds, past the largest bound a gated metric may have
      layer("op_tail_s") = tailV
      layer("op_tail.percentile") = tailPct
      layer("op_tail.samples") = tailN
    } else {
      val ids = traced.map(_.id).toSet
      val n = traced.size.toDouble
      val opS = traced.map(_.s).sum
      val accs = ids.toSeq.map(tracer.sparkLayer.accOf)
      def total(f: SparkLayer.Acc => Long): Double = accs.map(f).sum.toDouble
      val stages = total(_.stages)
      val skipped = total(_.skipped)
      layer("spark.jobs") = total(_.jobs) / n
      layer("spark.stages") = stages / n
      layer("spark.stage_reuse_share") = if (stages + skipped > 0) skipped / (stages + skipped) else 0.0
      layer("spark.tasks") = total(_.tasks) / n
      layer("spark.sched_delay_s") = total(_.waitMs) / 1e3 / n
      layer("spark.task_run_s") = total(_.runMs) / 1e3 / n
      layer("spark.task_cpu_s") = total(_.cpuNs) / 1e9 / n
      layer("spark.gc_s") = total(_.gcMs) / 1e3 / n
      layer("spark.busy_share") = total(_.runMs) / 1e3 / (cores * opS)
      layer("spark.input_bytes") = total(_.inputBytes) / n
      layer("spark.shuffle_write_bytes") = total(_.shuffleWrite) / n
      layer("spark.shuffle_read_bytes") = total(_.shuffleRead) / n
      layer("spark.spill_bytes") = total(_.spill) / n
      layer("spark.peak_exec_mem_bytes") = if (accs.isEmpty) 0.0 else accs.map(_.peakExecMem).max.toDouble
      // The least storage held after any measured op is the primed caches,
      // which fill on first use; what an op leaves held above it is pinned.
      val held = untraced ++ traced
      val primed = held.minBy(o => (o.heldBytes, o.heldRdds))
      layer("storage.pinned_rdds_after_op") = (held.map(_.heldRdds).max - primed.heldRdds).toDouble
      layer("storage.pinned_bytes_after_op") = (held.map(_.heldBytes).max - primed.heldBytes).toDouble
      if (workload != Workloads.EtlTicks) layer("tables.cached_bytes") = primed.heldBytes.toDouble

      // an ETL tick's trigger is its batch; a stream query's triggers run within the op
      val sl = tracer.streamLayer
      val trig = traced.flatMap { o =>
        val ts = if (workload == Workloads.EtlTicks) sl.ofBatch(o.id.toLong)
          else sl.within(Clock.epochMs(o.startNano), Clock.epochMs(o.endNano))
        ts.map(o.id -> _)
      }
      def mean(k: String): Double =
        if (trig.isEmpty) 0.0 else trig.map(_._2.durMs(k)).sum / 1e3 / trig.size
      layer("streaming.triggers") = trig.size / n
      layer("streaming.trigger_s") =
        if (trig.isEmpty) 0.0 else Stats.median(trig.map(_._2.durMs("triggerExecution") / 1e3))
      layer("streaming.jobs_per_trigger") =
        if (trig.isEmpty) 0.0 else total(_.streamJobs) / trig.size
      layer("streaming.add_batch_s") = mean("addBatch")
      layer("streaming.wal_commit_s") = mean("walCommit")
      layer("streaming.commit_offsets_s") = mean("commitOffsets")
      layer("streaming.query_planning_s") = mean("queryPlanning")
      layer("streaming.state_commit_s") =
        if (trig.isEmpty) 0.0 else trig.map(_._2.stateCommitMs).sum / 1e3 / trig.size
      layer("streaming.state_rows") =
        if (trig.isEmpty) 0.0 else trig.map(_._2.stateRows).sum.toDouble / trig.size

      // tracing overhead: per op name, traced over untraced median latency
      def byName(ops: Seq[OpRec]) = ops.groupBy(_.name).map { case (k, v) => k -> Stats.median(v.map(_.s)) }
      val a = byName(untraced)
      val ratios = byName(traced).collect { case (k, v) if a.contains(k) => v / a(k) }.toSeq
      layer("trace.overhead_share") = if (ratios.isEmpty) 0.0 else Stats.median(ratios) - 1.0

      val spans = tracer.spans
      tracer.sparkLayer.jobsOf(ids).foreach(j => spans.addObserved(j.op, "spark.job", j.startMs, j.endMs))
      trig.foreach { case (op, t) =>
        spans.addObserved(op, "streaming.trigger", t.startMs, t.startMs + t.durMs("triggerExecution"))
      }
      Files.write(out.resolve(s"$workload-seed$seed-spans.jsonl"),
        spans.render().mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      PerLayer.foreach { case (k, _) => metrics(k) = layer.getOrElse(k, 0.0) }
    }

    val units = (EndToEnd ++ PerLayer).toMap
    val summary = mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, v) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> units(k)) })
    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "seconds" -> seconds,
      "cores" -> cores, "summary" -> summary, "layers" -> layer,
      "setup" -> Map("session_s" -> sessionS, "reps_s" -> setupReps),
      "noise" -> Map("before" -> noiseBefore, "after" -> noiseAfter),
      "sample" -> sample, "checks" -> extraChecks, "ops" -> ops.map(_.detail))
    Files.writeString(out.resolve(s"$workload-seed$seed-trace${if (trace) 1 else 0}.json"),
      Json.render(detail) + "\n")
    spark.stop()
    mark("session stopped")
    println(Json.render(summary))
    0
  }
}

/** Epoch time of a `System.nanoTime` reading. */
object Clock {
  private val n0 = System.nanoTime()
  private val e0 = System.currentTimeMillis()
  def epochNs(nano: Long): Long = e0 * 1000000L + (nano - n0)
  def epochMs(nano: Long): Long = epochNs(nano) / 1000000L
}
