package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Window recipe goldens on crafted gap patterns (SURVEY §5.2 #1). */
class WindowsSpec extends SparkSpec {
  import spark.implicits._

  // (key, order, value) with nulls at targeted positions
  private def gappy = Seq(
    ("a", 1, Some(10.0)), ("a", 2, None), ("a", 3, None), ("a", 4, Some(40.0)),
    ("a", 5, None),
    ("b", 1, None), ("b", 2, Some(2.0)), ("b", 3, None),
    ("c", 1, None), ("c", 2, None) // all-null group
  ).toDF("k", "o", "x")

  test("lag1 shifts by one within the partition, null at the head (W1, 01:1115-1118)") {
    val out = Seq(("a", 1, 1.0), ("a", 2, 2.0), ("b", 1, 9.0), ("a", 3, 3.0))
      .toDF("k", "o", "x")
      .withColumn("l", Windows.lag1($"x", $"k", $"o"))
      .orderBy("k", "o")
      .select($"l").as[Option[Double]].collect().toSeq
    assert(out === Seq(None, Some(1.0), Some(2.0), None))
  }

  test("ffill carries last non-null forward; bfill first non-null backward (W3, 04:237)") {
    val out = gappy
      .withColumn("f", Windows.ffill($"x", $"k", $"o"))
      .withColumn("b", Windows.bfill($"x", $"k", $"o"))
      .orderBy("k", "o")
      .select($"f", $"b").as[(Option[Double], Option[Double])].collect().toSeq
    assert(out === Seq(
      (Some(10.0), Some(10.0)), (Some(10.0), Some(40.0)), (Some(10.0), Some(40.0)),
      (Some(40.0), Some(40.0)), (Some(40.0), None),
      (None, Some(2.0)), (Some(2.0), Some(2.0)), (Some(2.0), None),
      (None, None), (None, None)))
  }

  test("ffillThenBfill fills leading nulls from the future, like pandas .ffill().bfill()") {
    val out = gappy
      .withColumn("v", Windows.ffillThenBfill($"x", $"k", $"o"))
      .orderBy("k", "o")
      .select($"v").as[Option[Double]].collect().toSeq
    assert(out === Seq(
      Some(10.0), Some(10.0), Some(10.0), Some(40.0), Some(40.0),
      Some(2.0), Some(2.0), Some(2.0),
      None, None))
  }

  test("interpolateLinear: interior gaps linear, edges ffill/bfill, all-null stays null (W4, 05:194-196)") {
    val out = gappy
      .withColumn("v", Windows.interpolateLinear($"x", $"k", $"o"))
      .orderBy("k", "o")
      .select($"v").as[Option[Double]].collect().toSeq
    assert(out === Seq(
      Some(10.0), Some(20.0), Some(30.0), Some(40.0), Some(40.0), // a: linear then trailing ffill
      Some(2.0), Some(2.0), Some(2.0), // b: leading bfill
      None, None)) // c: nothing to interpolate from
  }

  test("interpolateLinear never leaves the neighbor value range (SURVEY §5.2 #3 property)") {
    val rnd = new scala.util.Random(42)
    val rows = for {
      k <- Seq("p", "q", "r"); o <- 1 to 50
    } yield (k, o, if (rnd.nextDouble() < 0.4) None else Some(rnd.nextDouble() * 100))
    val out = rows.toDF("k", "o", "x")
      .withColumn("v", Windows.interpolateLinear($"x", $"k", $"o"))
      .select($"k", $"o", $"x", $"v")
      .as[(String, Int, Option[Double], Option[Double])].collect()
    val byKey = out.groupBy(_._1)
    byKey.foreach { case (_, g) =>
      val known = g.filter(_._3.isDefined).map(_._3.get)
      if (known.nonEmpty) {
        val (lo, hi) = (known.min, known.max)
        g.flatMap(_._4).foreach(v => assert(v >= lo - 1e-9 && v <= hi + 1e-9))
      }
    }
  }

  test("slidingSeq + leadLabel build (X, y) training pairs of exactly `steps` rows (W5, 04:71-85)") {
    val df = Seq(("a", 1, 1.0), ("a", 2, 2.0), ("a", 3, 3.0), ("a", 4, 4.0), ("b", 1, 9.0))
      .toDF("k", "o", "x")
      .withColumn("seq", Windows.slidingSeq($"x", 3, $"k", $"o"))
      .withColumn("y", Windows.leadLabel($"x", $"k", $"o"))
      .filter(size($"seq") === 3 && $"y".isNotNull)
    val out = df.orderBy("k", "o").select($"seq", $"y").as[(Seq[Double], Double)].collect().toSeq
    assert(out === Seq((Seq(1.0, 2.0, 3.0), 4.0)))
  }

  test("denseId assigns 0-based contiguous ids in key order (P17, 05:182)") {
    val df = Seq("s3", "s1", "s2", "s1").toDF("k")
    val out = Windows.denseId(df, "k", "idx").orderBy("idx")
      .as[(String, Int)].collect().toSeq
    assert(out === Seq(("s1", 0), ("s2", 1), ("s3", 2)))
  }

  test("denseId two-pass form: exact dense ranks across MANY partitions " +
    "(r18 — no single-partition window at any key cardinality)") {
    // shuffled input order so the rank really comes from the sort;
    // enough distinct keys that the range sort + zip really carries
    // ranks across partition boundaries when the partitioner splits
    // (at fixture size AQE may legitimately coalesce the range shuffle
    // to one partition — the scale-adaptive behavior itself; the pin
    // here is exactness of the two-pass rank, not a partition count)
    val keys = (0 until 1000).map(i => f"k$i%04d")
    val df = new scala.util.Random(17).shuffle(keys ++ keys.take(100)).toDF("k")
    val got = Windows.denseId(df, "k", "idx")
      .orderBy("idx").as[(String, Int)].collect().toSeq
    assert(got === keys.sorted.zipWithIndex)
  }

  test("sessionize (W7): boundaries at gap > threshold, per-key isolation, " +
    "tied timestamps share one session, layout-invariant") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // u1: events at 00:00, 00:10 (same session), 01:00 (gap 50 min > 30
    // → new), 01:05; u2: one lone event. A TIED pair at u1 01:05 lands
    // with its twin whatever order lag() saw them in.
    val rows = Seq(
      ("u1", ts("2024-01-01 00:00:00")), ("u1", ts("2024-01-01 00:10:00")),
      ("u1", ts("2024-01-01 01:00:00")), ("u1", ts("2024-01-01 01:05:00")),
      ("u1", ts("2024-01-01 01:05:00")), // exact tie
      ("u2", ts("2024-01-01 00:00:00")))
    for (parts <- Seq(1, 5)) {
      val out = Windows.sessionize(
          rows.toDF("k", "t").repartition(parts), "k", "t", gapSec = 1800L)
        .as[(String, Timestamp, Long)].collect()
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2.getTime).map(_._3).toSeq).toMap
      assert(out("u1") === Seq(1L, 1L, 2L, 2L, 2L), s"parts=$parts")
      assert(out("u2") === Seq(1L), s"parts=$parts")
    }
    // sub-second exactness: a gap of threshold+1µs splits, threshold does not
    val fine = Seq(
      ("u", Timestamp.valueOf("2024-01-01 00:00:00")),
      ("u", new Timestamp(Timestamp.valueOf("2024-01-01 00:30:00").getTime)),
      ("u", { val t = Timestamp.valueOf("2024-01-01 01:00:00")
              t.setNanos(1000); t })) // 30 min + 1 µs after the 2nd
    val f = Windows.sessionize(fine.toDF("k", "t"), "k", "t", 1800L)
      .as[(String, Timestamp, Long)].collect().sortBy(_._2.getTime).map(_._3).toSeq
    assert(f === Seq(1L, 1L, 2L)) // exactly-threshold gap stays; +1µs splits
  }
}
