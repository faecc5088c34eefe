package perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.queries._

/** Which registered query belongs to which query workload, by rule:
  *  - `streams`: every query that runs a bounded stream (`st<n>_…` or a
  *    `_stream` name), whichever registry holds it;
  *  - `notebook`: the rest of the analyst registries (relational,
  *    window, stats, ml, ingest) — the reference's notebook traffic;
  *  - `curation`: the rest of the LLM data-curation registry.
  * A registry that none of the rules names leaves its queries in no
  * workload, and [[membership]] fails instead of letting them drop out. */
object Workloads {
  val Notebook = "notebook"
  val Curation = "curation"
  val Streams = "streams"
  val EtlTicks = "etl_ticks"
  val QueryWorkloads: Seq[String] = Seq(Notebook, Curation, Streams)
  val All: Seq[String] = QueryWorkloads :+ EtlTicks

  private val notebookRegistries: Set[Q.Registry] =
    Set(RelationalQueries, WindowQueries, StatsQueries, MlQueries, IngestQueries)
  private val curationRegistries: Set[Q.Registry] = Set(LlmQueries)

  def isStream(name: String): Boolean =
    name.matches("st\\d+_.*") || name.contains("_stream")

  private def rules(reg: Q.Registry, q: Q): Seq[String] =
    Seq(
      Streams -> isStream(q.name),
      Notebook -> (notebookRegistries(reg) && !isStream(q.name)),
      Curation -> (curationRegistries(reg) && !isStream(q.name)))
      .collect { case (w, true) => w }

  /** Members of every query workload, in registry order. Fails unless
    * every registered query lands in exactly one workload and no
    * workload is empty. */
  lazy val membership: Map[String, Seq[Q]] = {
    val placed = SparkEntry.registries.flatMap(r => r.all.map(q => q -> rules(r, q)))
    val bad = placed.collect { case (q, ws) if ws.size != 1 => s"${q.name} -> ${ws.mkString("[", ",", "]")}" }
    require(bad.isEmpty, s"queries not in exactly one workload: ${bad.mkString(", ")}")
    val names = placed.map(_._1.name)
    require(names.distinct.size == names.size, "duplicate query names in the registries")
    val m = QueryWorkloads.map(w => w -> placed.collect { case (q, Seq(`w`)) => q }).toMap
    require(m.values.forall(_.nonEmpty), s"empty workload: ${m.filter(_._2.isEmpty).keys}")
    m
  }

  /** The ops a run measures: `k` ops shared among the registries the
    * members come from, one per registry and the rest in proportion to
    * each registry's reference seconds (largest remainder), so every
    * registry has a measured op. Within a registry the members are
    * sorted from the most to the least expensive, cut into strata that
    * each hold an equal share of its seconds (an op heavier than that is
    * a stratum of its own), and the middle member of each stratum is
    * taken (the heavier of two middles). Every run measures the same
    * ops, so seeds change only their order. */
  def core(members: Seq[Q], refS: String => Double, k: Int): Seq[Q] = {
    val names = members.map(_.name).toSet
    val groups = SparkEntry.registries.map(_.all.filter(q => names(q.name))).filter(_.nonEmpty)
    val secs = groups.map(_.map(q => refS(q.name)).sum)
    val extra = math.max(0, k - groups.size)
    val share = secs.map(s => if (secs.sum > 0) extra * s / secs.sum else 0.0)
    val base = share.map(_.toInt)
    val bump = share.indices.sortBy(i => (base(i) - share(i), i)).take(extra - base.sum).toSet
    groups.indices.flatMap(i => strata(groups(i), refS, 1 + base(i) + (if (bump(i)) 1 else 0)))
  }

  private def strata(members: Seq[Q], refS: String => Double, k: Int): Seq[Q] = {
    val sorted = members.sortBy(q => (-refS(q.name), q.name))
    val share = sorted.map(q => refS(q.name)).sum / k
    val strata = mutable.ArrayBuffer(mutable.ArrayBuffer[Q]())
    var acc = 0.0
    sorted.foreach { q =>
      if (acc >= share) { strata += mutable.ArrayBuffer[Q](); acc = 0.0 }
      strata.last += q
      acc += refS(q.name)
    }
    strata.toSeq.map(s => s((s.size - 1) / 2))
  }
}
