package perfbench

import scala.collection.mutable

/** One executed op: a query from its `Q.fn` call until its plan's RDD
  * is fully materialised, or one ETL tick from its trigger until its
  * commit marker is written. Checks and bookkeeping run after `endNano`
  * and are not part of the op. `heldRdds` and `heldBytes` are the
  * persistent RDDs and the storage bytes they hold after the op. */
final case class OpRec(id: Int, name: String, phase: String, startNano: Long, endNano: Long,
                       buildS: Double, ok: Boolean, error: String,
                       heldRdds: Int, heldBytes: Long) {
  def s: Double = (endNano - startNano) / 1e9
  def detail: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap(
    "id" -> id, "name" -> name, "phase" -> phase, "s" -> s, "build_s" -> buildS, "ok" -> ok,
    "error" -> (if (error.isEmpty) None else Some(error)),
    "held_rdds" -> heldRdds, "held_bytes" -> heldBytes)
}

/** The ops of one measured phase and the wall time they were measured
  * over (loop time minus the checks and bookkeeping between ops). */
final case class Phase(ops: Seq[OpRec], wallS: Double)

object Phase {
  /** Runs ops `0 until n` back to back. `op(i, phase, tracer)` returns
    * its record and the nanoseconds it spent on checks and bookkeeping
    * after the op. With a tracer, the odd ops run traced and the even
    * ones untraced (their phases say which), so both kinds are spread
    * evenly over the run; switching the tracer is bookkeeping too. */
  def run(n: Int, phase: String, tracer: Option[Tracer])(
      op: (Int, String, Option[Tracer]) => (OpRec, Long)): Phase = {
    val out = mutable.ArrayBuffer[OpRec]()
    val start = System.nanoTime()
    var overheadNs = 0L
    (0 until n).foreach { i =>
      val t = tracer.filter(_ => i % 2 == 1)
      val p = if (tracer.isEmpty) phase else if (t.isDefined) "traced" else "untraced"
      val a = System.nanoTime()
      t.foreach(_.on())
      overheadNs += System.nanoTime() - a
      val (r, extra) = op(i, p, t)
      val b = System.nanoTime()
      t.foreach(_.off())
      overheadNs += extra + System.nanoTime() - b
      out += r
    }
    Phase(out.toSeq, (System.nanoTime() - start - overheadNs) / 1e9)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The sample at the highest percentile that has at least 10 samples
    * beyond it, with that percentile and the sample count. Below 20
    * samples that percentile would sit under the median, so the maximum
    * is reported instead, at percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    val k = n - 10
    if (2 * k < n) (s.last, 100.0, n) else (s(k - 1), 100.0 * k / n, n)
  }
}

/** Op ids and every op record of one run. */
final class Recorder {
  private var nextId = 0
  val all = mutable.ArrayBuffer[OpRec]()
  def newId(): Int = { val i = nextId; nextId += 1; i }
  def add(r: OpRec): OpRec = { all += r; r }
}
