package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Writes the expected-output file: every member of every query
  * workload runs twice after set-up; both runs must give the same rows
  * and digest. The second run's seconds become the query's reference
  * cost, which only orders the cost strata. The oracle SQL of every
  * query goes to `oracleDest` for `crosscheck.py`. */
object Record {
  def run(dest: Path, oracleDest: Path, data: String, cores: Int): Int = {
    val spark = graft.LocalRun.session(cores)
    val qr = new QueryRun(spark, data, Expected(Map.empty), new Recorder)
    qr.prime()
    val resets = graft.Bench.RefitResets
    val entries = mutable.LinkedHashMap[String, Any]()
    var unstable = 0
    Workloads.QueryWorkloads.foreach { w =>
      Workloads.membership(w).foreach { q =>
        def once(): (Double, Digest.Result) = {
          resets.get(q.name).foreach(_())
          val t = System.nanoTime()
          val df = q.fn(spark, data)
          df.queryExecution.toRdd.count()
          val s = (System.nanoTime() - t) / 1e9
          (s, Digest.of(df))
        }
        val (_, a) = once()
        val (s, b) = once()
        if (a != b) {
          unstable += 1
          System.err.println(s"[perfbench] ${q.name} differs between runs: $a vs $b")
        }
        System.err.println(f"[perfbench] $w%-9s ${q.name}%-34s $s%7.3f s rows ${b.rows}")
        entries(q.name) = mutable.LinkedHashMap(
          "workload" -> w, "rows" -> b.rows, "digest" -> b.digest, "ref_s" -> s)
      }
    }
    Files.writeString(dest, Json.render(Map("queries" -> entries)) + "\n")
    val oracle = graft.SparkEntry.oracleSqlFor(Set.empty)
    Files.createDirectories(oracleDest.getParent)
    Files.writeString(oracleDest, Json.render(oracle) + "\n")
    spark.stop()
    if (unstable == 0) 0 else 1
  }
}
