package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.llm.Dedup

/** The reference's ETL service tick, end-to-end (etl_job.py:64-132,
  * SURVEY §3.1): extract (pluggable fetch, retried with linear
  * backoff) → parse JSON → transform (validate, empty-guard, rename,
  * lenient cast, tz-normalize) → within-batch fact dedup → insert-only
  * -new dim upsert → sink appends. One [[runOnce]] call = one
  * 10-minute tick of the reference's loop (dags/youbike_dag.py:135);
  * scheduling stays outside (cron / Airflow / Structured Streaming via
  * [[graft.streaming.MicroBatchIngest]], which shares the same
  * stages).
  *
  * Scale posture: the batch is map-side until the dedup shuffle on the
  * warehouse unique key; the dim upsert anti-joins against a broadcast
  * of existing keys. Each sink frame is counted on the job that
  * materializes it, and freed once its sink returns. The warehouse
  * boundary is the pluggable [[Sinks]] (JDBC in the reference via
  * loaders/Readers.appendJdbc; parquet at cluster scale; in-memory
  * collectors in EtlJobSpec).
  */
object EtlJob {

  /** Pluggable warehouse boundary. `existingDimKeys` returns a frame
    * with at least a `station_no` column (the reference's
    * `SELECT station_no FROM station_info`, etl_job.py:120-121). */
  final case class Sinks(
    appendFacts: DataFrame => Unit,
    insertDims: DataFrame => Unit,
    existingDimKeys: () => DataFrame)

  final case class BatchResult(factsAppended: Long, dimsInserted: Long)

  /** One extract→transform→load tick. Fetch errors retry
    * `attempts`× with `backoffMs × attempt` sleeps (etl_job.py:21-23);
    * an empty or schema-broken batch fails loudly after retries, like
    * the reference's ValueError/KeyError — a silent skip would look
    * like a healthy tick to the scheduler. */
  def runOnce(spark: SparkSession,
              fetch: () => Dataset[String],
              sinks: Sinks,
              attempts: Int = 3,
              backoffMs: Long = 2000): BatchResult = {
    val records = Retry.withBackoff(attempts, backoffMs)(fetch())
    val raw = IngestBatch.parseJson(spark, records)
    val (dim, fact) = IngestBatch.transform(raw)

    // counted on the checkpoint job; the sink write reads the checkpoint
    val (facts, nFacts) = checkpointCounted(IngestBatch.dedupFacts(fact))
    try sinks.appendFacts(facts)
    finally Dedup.releaseCheckpoint(facts)

    val (newDims, nDims) = checkpointCounted(
      IngestBatch.newDimsOnly(dim, sinks.existingDimKeys(), "station_no"))
    try if (nDims > 0) sinks.insertDims(newDims)
    finally Dedup.releaseCheckpoint(newDims)

    BatchResult(nFacts, nDims)
  }

  /** Eager local checkpoint of `df` with its row count observed on the
    * materialization job. The caller frees it with
    * [[Dedup.releaseCheckpoint]]. */
  private def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val obs = Observation()
    val ckpt = df.observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
    (ckpt, obs.get("n").asInstanceOf[Long])
  }
}
