package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.EtlJob

/** The reference's ETL service loop — `while True: run_etl();
  * sleep(600)` (etl_job.py:141-149), cron'd every 10 minutes at
  * dags/youbike_dag.py:135 — recast as a Structured Streaming
  * scheduler: a tick stream under `Trigger.ProcessingTime` fires one
  * full [[EtlJob.runOnce]] (Retry-wrapped extract → parse → transform
  * → within-batch dedup → insert-only dim upsert → sinks) per trigger.
  *
  * Compared to the hand-rolled sleep loop this inherits the engine's
  * driver machinery for free: trigger pacing, checkpointed batch ids,
  * stop/await semantics, and restart recovery. A tick that exhausts
  * its retries fails the query loudly (the reference's ValueError
  * contract) instead of silently skipping a cycle.
  *
  * Delivery contract: **at-least-once per tick** by default. With a
  * `checkpointDir`, a driver restart REPLAYS the last batch whose tick
  * committed to the source offset log but not the sink commit log —
  * that tick's `EtlJob.runOnce` runs again, so `Sinks.appendFacts`
  * side effects can duplicate (the reference's cron'd etl_job.py has
  * the same property: a crash between warehouse insert and process
  * exit re-inserts on the next cron fire).
  *
  * **Exactly-once**: pass a [[BatchCommitLog]]. Each tick then runs
  * only if the log has no commit marker for its checkpointed batchId;
  * the marker is written after EVERY effect of the tick — the sinks
  * and the `onResult` callback — has returned, so an engine
  * replay of an already-committed batch is a no-op
  * (ScheduledEtlSpec proves this through a real
  * offset-written/commit-missing restart). Residual window, stated
  * plainly: a crash BETWEEN the sink writes and `commit(batchId)`
  * still replays that tick — close it by making the warehouse write
  * and the marker one transaction (JDBC), or by keying warehouse rows
  * on (batch_id, unique key) with insert-or-ignore — the batch-side
  * building blocks are [[graft.ingest.IngestBatch.dedupFacts]] (S8,
  * replays within a batch) plus a left-anti join of the batch on the
  * stored `(station_no, record_time)` keys in the fact sink.
  *
  * Scale posture: the tick stream is one row per trigger — all real
  * work happens inside runOnce's plan, which is map-side until the
  * dedup shuffle and broadcasts the dim anti-join (see EtlJob). The
  * scheduling layer adds no shuffle and no state beyond the rate
  * source's offset checkpoint.
  */
object ScheduledEtl {

  /** Durable record of fully-committed tick batchIds — the
    * exactly-once adapter's source of truth across driver restarts.
    * Implementations must make [[commit]] visible to a process that
    * restarts from the same storage (file markers, a warehouse table
    * keyed by batch_id, …). */
  trait BatchCommitLog {
    def isCommitted(batchId: Long): Boolean
    def commit(batchId: Long): Unit
  }

  /** Marker-file [[BatchCommitLog]]: one empty `batch-<id>` file per
    * committed tick under `dir` (typically next to the stream's
    * checkpoint dir, on the same durable storage). Markers are
    * published by atomic rename so a reader never observes a
    * half-written commit; a concurrent duplicate commit of the same
    * batchId is benign (first rename wins, the second lands on an
    * existing marker). */
  final class FileBatchCommitLog(dir: java.nio.file.Path) extends BatchCommitLog {
    java.nio.file.Files.createDirectories(dir)
    private def marker(batchId: Long) = dir.resolve(s"batch-$batchId")
    override def isCommitted(batchId: Long): Boolean =
      java.nio.file.Files.exists(marker(batchId))
    override def commit(batchId: Long): Unit = {
      val tmp = java.nio.file.Files.createTempFile(dir, s"batch-$batchId-", ".tmp")
      try java.nio.file.Files.move(tmp, marker(batchId),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileAlreadyExistsException => ()
      } finally {
        // no-op when the move consumed it; cleans the orphan on ANY
        // failed move (permission/IO errors included), not just the
        // benign already-exists race
        java.nio.file.Files.deleteIfExists(tmp)
        ()
      }
    }

    /** Retention: drop markers below `minBatchId`. The log otherwise
      * grows one file per tick for the query's lifetime (Spark's own
      * offset/commit logs compact; a 1-second trigger would mint ~86k
      * files/day). Replay only ever targets the LAST uncommitted
      * batch, so a caller can safely purge everything below the most
      * recent marker on whatever cadence suits the storage. */
    def purgeBelow(minBatchId: Long): Unit = {
      val stream = java.nio.file.Files.newDirectoryStream(dir, "batch-*")
      try stream.forEach { p =>
        val id = p.getFileName.toString.stripPrefix("batch-")
        if (id.forall(_.isDigit) && id.nonEmpty && id.toLong < minBatchId)
          java.nio.file.Files.deleteIfExists(p)
        ()
      } finally stream.close()
    }
  }

  /** Start the scheduled loop. `ticks` defaults to a 1-row/s rate
    * source (only its trigger cadence matters, rows are ignored);
    * tests inject a MemoryStream so ticks are deterministic.
    * `onResult` observes each tick's (batchId, [[EtlJob.BatchResult]]) —
    * the batchId is the engine's checkpointed micro-batch id, the key
    * an idempotent sink uses to make restart replays exactly-once
    * (see the delivery contract above; a replayed tick re-fires with
    * the SAME batchId). `commitLog` upgrades the loop to exactly-once:
    * a tick whose batchId already carries a commit marker is skipped
    * whole (no fetch, no sink writes, no onResult). */
  def start(spark: SparkSession,
            fetch: () => Dataset[String],
            sinks: EtlJob.Sinks,
            interval: String = "10 minutes",
            attempts: Int = 3,
            backoffMs: Long = 2000,
            ticks: Option[DataFrame] = None,
            checkpointDir: Option[String] = None,
            onResult: (Long, EtlJob.BatchResult) => Unit = (_, _) => (),
            commitLog: Option[BatchCommitLog] = None): StreamingQuery = {
    val src = ticks.getOrElse(
      spark.readStream.format("rate").option("rowsPerSecond", 1).load())
    val writer = src.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(interval))
      .queryName("scheduled-etl")
      .foreachBatch { (_: DataFrame, batchId: Long) =>
        if (commitLog.exists(_.isCommitted(batchId))) {
          // engine replay of a fully-committed tick (restart recovery):
          // exactly-once means this is a no-op, not a re-run
          ()
        } else {
          val result = EtlJob.runOnce(spark, fetch, sinks, attempts, backoffMs)
          // marker LAST: everything before it (sinks AND the onResult
          // callback) is at-least-once — a crash anywhere before the
          // marker replays the whole tick, so a keyed onResult effect
          // is retried, never silently lost. Only after every effect
          // of the tick has returned does the batch become a no-op on
          // replay.
          onResult(batchId, result)
          commitLog.foreach(_.commit(batchId))
        }
        ()
      }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }
}
