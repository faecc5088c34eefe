package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared runtime plumbing for the CLI mains (Bench/Verify/Probe/
  * ExplainFit/BenchScale/ShufflePin/InflateSf/DumpPlan) — one
  * definition of the local session config so a session-semantics fix
  * (e.g. a new legacy-parquet flag the fixtures need) lands everywhere
  * at once instead of drifting across copy-pasted builders. */
object LocalRun {

  /** The standard local session: UTC (the oracle comparison's clock),
    * nanos-as-long + no NTZ inference (the driver-written parquet's
    * timestamp encoding), UI off, shuffle partitions sized to the core
    * count (not Spark's default 200 — local mode has `cpus` slots). */
  def session(cpus: Int, shufflePartitions: Int = -1): SparkSession = {
    val sp = if (shufflePartitions > 0) shufflePartitions else cpus
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", sp)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // let a join reuse a child partitioning on a SUBSET of its keys
      // (leading-key co-partitioning): the r18 one-exchange pipelines
      // (tx21/llm4) hash the corpus by doc_id once and run every
      // downstream gram/token-grain join on (doc_id, …) keys without
      // re-shuffling — scale-independent planner leniency (the same
      // subset rule aggregations/windows already get by default), not
      // a local-mode tuning knob
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Number of streaming STATE partitions the engine's bounded-stream
    * queries run with — the p8 lever the r13 ProbeStreamFixed
    * decomposition priced: a stateful operator instantiates one state
    * store per shuffle partition at a fresh checkpoint's first batch,
    * and the per-trigger commit cycle across the stores (NOT data
    * volume) dominated the streaming suite's cost at fixture scale
    * (~9 s CPU/trigger over 32 HDFS-backed stores holding ~130 rows).
    * Production sizes state partitions to STATE VOLUME, not to the
    * batch session's CPU count — 8 here, matching the probe's priced
    * arm; a 100 TB deployment with hot keys raises it per stream (the
    * conf is recorded in the checkpoint, so the setting is a
    * per-pipeline deployment choice, exactly how this exposes it). */
  val StreamStatePartitions = 8

  /** Run `body` with `spark.sql.shuffle.partitions` set to `n`,
    * restoring the prior value after — how a per-STREAM state-partition
    * count is expressed (the conf is read at the fresh checkpoint's
    * first batch and recorded there; every bounded stream here defines,
    * starts, and drains inside `body`). The swap mutates SESSION-global
    * conf, so the swap window is mutually exclusive across threads (the
    * JVM-wide lock below) — two concurrent bounded streams serialize
    * instead of interleaving their set/restore and leaking `n` past the
    * block (r14 ADVICE: the serial contract is now enforced, not
    * advisory). Queries running OUTSIDE this helper on the same session
    * remain the caller's responsibility — Verify/Bench/specs run
    * queries one at a time by construction. */
  def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T =
    withConf(s, "spark.sql.shuffle.partitions", n.toString)(body)

  /** Run `body` with one session conf temporarily swapped, restoring
    * the prior value after — the generalized form of
    * [[withShufflePartitions]] (same JVM-wide lock, same serial
    * contract: concurrent swap windows serialize instead of leaking
    * the temporary value past the block). r18 adds a second user:
    * partitioned localCheckpoints must materialize with AQE off so
    * the LogicalRDD records the hash partitioning instead of
    * UnknownPartitioning. */
  def withConf[T](s: SparkSession, key: String, value: String)(body: => T): T =
    shufflePartitionsLock.synchronized {
      val prev = s.conf.get(key)
      s.conf.set(key, value)
      try body finally s.conf.set(key, prev)
    }
  private val shufflePartitionsLock = new Object

  /** FileSourceScanExec leaves of `p`, descending through AQE wrappers
    * (AdaptiveSparkPlanExec / QueryStageExec are LEAF nodes whose
    * subtree hangs off a field, invisible to a plain collect) — the
    * one definition of post-execution scan introspection, shared by
    * the scale bench's stored-serving arm and IvfStorePruningSpec
    * (r16 self-review: duplicated plan-walking drifts on a Spark
    * upgrade). BenchPartitioned's leaf probe is deliberately NOT this
    * — it reads planning-time values off an exchange-free plan. */
  def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        fileScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        fileScans(q.plan)
    }.flatten

  /** Write `df` as ONE parquet FILE at `dest` (not a directory) — the
    * layout the driver's testdata uses and the file-addressed readers
    * (DuckDB `read_parquet`, the file-stream sources' staged arrival
    * days) expect. Spark only writes directories, so this stages to
    * `<dest>_tmp/`, moves the single part file out, and removes the
    * staging dir. */
  def writeSingleParquet(df: DataFrame, dest: java.nio.file.Path): Unit = {
    val tmp = dest.getParent.resolve(dest.getFileName.toString + "_tmp")
    df.repartition(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles()
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written for $dest"))
    java.nio.file.Files.deleteIfExists(dest)
    java.nio.file.Files.move(part.toPath, dest)
    tmp.toFile.listFiles().foreach(_.delete())
    java.nio.file.Files.delete(tmp)
  }

  /** Scratch paths whose contents a RETURNED lazy frame still reads
    * (st7/st12 hand back a DataFrame over their staged `cleaned/` dir,
    * so the stage root cannot be deleted at build time) — registered
    * here and swept by ONE JVM shutdown hook, so repeated builds leak
    * nothing past process exit (r11 ADVICE: st7/st12 left one stage
    * tree per run behind unconditionally). */
  private val exitScratch =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val exitHookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(
      () => {
        var p = exitScratch.poll()
        while (p != null) {
          try deleteRecursively(p) catch { case _: Exception => () }
          p = exitScratch.poll()
        }
        slotScratch.values().forEach(r =>
          try deleteRecursively(r) catch { case _: Exception => () })
        slotScratch.clear()
      },
      "graft-scratch-sweeper"))

  /** One live scratch tree per named slot: registering a new root for a
    * slot deletes the PRIOR tree immediately, so a long-lived session
    * re-running a staged-stream query (bench fitmed3 triples, repeated
    * Verify calls) holds at most one stage tree per query on disk
    * instead of accumulating one per run until JVM exit (r12 ADVICE).
    * Safe because a slot's prior returned frame is fully consumed
    * before the same query rebuilds. The current root of every slot is
    * still swept by the exit hook. */
  private val slotScratch =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  def deleteOnExitSlot(slot: String, root: java.nio.file.Path): Unit = {
    exitHookInstalled
    val prev = slotScratch.put(slot, root)
    if (prev != null && prev != root)
      try deleteRecursively(prev) catch { case _: Exception => () }
    ()
  }

  /** Test seam: the current root registered under `slot`, if any. */
  private[graft] def slotScratchCurrent(slot: String): Option[java.nio.file.Path] =
    Option(slotScratch.get(slot))

  /** Register `root` for deletion at JVM exit (idempotent to register;
    * safe if already deleted by then). */
  def deleteOnExit(root: java.nio.file.Path): Unit = {
    exitHookInstalled
    exitScratch.add(root)
    ()
  }

  /** Test seam: paths currently queued for the exit sweep. */
  private[graft] def exitScratchSnapshot: Seq[java.nio.file.Path] = {
    val it = exitScratch.iterator()
    val b = Seq.newBuilder[java.nio.file.Path]
    while (it.hasNext) b += it.next()
    b.result()
  }

  /** Recursive delete for the temp trees the staged-stream queries
    * create (children before parents; missing files tolerated). */
  def deleteRecursively(root: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.exists(root)) {
      val f = root.toFile
      if (f.isDirectory) f.listFiles().foreach(c => deleteRecursively(c.toPath))
      java.nio.file.Files.deleteIfExists(root)
    }
  }
}
