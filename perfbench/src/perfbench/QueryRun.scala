package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.queries._

/** The query workloads: one client runs the sampled registry queries of
  * one workload back to back over the primed tables, each pass in a new
  * seeded order. */
final class QueryRun(spark: SparkSession, dir: String, expected: Expected, rec: Recorder) {
  private val sc = spark.sparkContext

  /** Queries whose measured semantic is the refit or stream itself: the
    * program's own reset list, applied before every execution. */
  private val resets: Map[String, () => Unit] = graft.Bench.RefitResets

  /** Drop every cache and table plan, then prime the tables and the
    * warm frames. Priming registers the caches; they fill on first use,
    * which the warm-up pays. Returns its seconds. */
  def prime(): Double = {
    spark.catalog.clearCache()
    Tables.clearLoadMemo()
    val t = System.nanoTime()
    Tables.prime(spark, dir)
    Warm.prime(spark, dir)
    (System.nanoTime() - t) / 1e9
  }

  /** Execute one query as one op; check its output afterwards. Returns
    * the record and the nanoseconds spent after the op (checks). */
  def exec(q: Q, phase: String, spans: Option[Spans] = None): (OpRec, Long) = {
    resets.get(q.name).foreach(_())
    val id = rec.newId()
    sc.setLocalProperty("perfbench.op", id.toString)
    val t0 = System.nanoTime()
    var t1 = t0
    var t2 = t0
    var error = ""
    var ok = false
    try {
      val df = q.fn(spark, dir)
      t1 = System.nanoTime()
      df.queryExecution.toRdd.count()
      t2 = System.nanoTime()
      // the check's jobs are the benchmark's, not the op's
      sc.setLocalProperty("perfbench.op", null)
      val got = Digest.of(df)
      expected.queries.get(q.name) match {
        case Some(e) if e.rows == got.rows && e.digest == got.digest => ok = true
        case Some(e) => error = s"output mismatch: rows ${got.rows}/${e.rows} digest ${got.digest}/${e.digest}"
        case None => error = "no expected output recorded"
      }
    } catch {
      case NonFatal(e) =>
        if (t2 == t0) t2 = System.nanoTime()
        if (t1 == t0) t1 = t2
        error = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    } finally sc.setLocalProperty("perfbench.op", null)
    val (rdds, bytes) = Host.storage(sc)
    val r = rec.add(OpRec(id, q.name, phase, t0, t2, (t1 - t0) / 1e9, ok, error,
      rdds, bytes))
    spans.foreach { sp =>
      val root = sp.add(id, s"op:${q.name}", t0, t2)
      sp.add(id, "queries.build", t0, t1, root)
      sp.add(id, "spark.execute", t1, t2, root)
    }
    if (!ok) System.err.println(s"[perfbench] FAILED ${q.name}: $error")
    (r, System.nanoTime() - t2)
  }

  /** `count` passes over `ops`, each in a new order from `rnd`; with a
    * tracer, every other op is traced (see [[Phase.run]]). */
  def passes(ops: Seq[Q], count: Int, phase: String, rnd: scala.util.Random,
             tracer: Option[Tracer] = None): Phase = {
    val order = (1 to count).flatMap(_ => rnd.shuffle(ops))
    Phase.run(order.size, phase, tracer)((i, p, t) => exec(order(i), p, t.map(_.spans)))
  }
}

/** Expected row count and digest of every registered query over the
  * benchmark's tables, with the warm seconds used to stratify samples. */
final case class Expected(queries: Map[String, Expected.Entry]) {
  def refS(name: String): Double = queries.get(name).map(_.refS).getOrElse(0.0)
}

object Expected {
  final case class Entry(rows: Long, digest: String, refS: Double)

  def load(path: java.nio.file.Path): Expected = {
    val root = Json.parse(java.nio.file.Files.readString(path)).get("queries")
    val m = mutable.Map[String, Entry]()
    root.fieldNames().forEachRemaining { n =>
      val e = root.get(n)
      m(n) = Entry(e.get("rows").asLong, e.get("digest").asText, e.get("ref_s").asDouble)
    }
    Expected(m.toMap)
  }
}
