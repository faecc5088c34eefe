package graft.ingest

import java.sql.Timestamp

import graft.SparkSpec

/** Unit tests mirroring the reference's own pytest suite
  * (tests/test_etl.py:18-57) plus the P3/P5 guards. */
class IngestBatchSpec extends SparkSpec {
  import spark.implicits._

  private val fixtureJson = Seq(
    """{"sno":"500101001","sna":"YouBike2.0_Station","sarea":"Daan",
      |"latitude":25.026,"longitude":121.543,"Quantity":"28",
      |"available_rent_bikes":10,"available_return_bikes":18,
      |"srcUpdateTime":"2024-03-01 08:30:00"}""".stripMargin.replaceAll("\n", ""))

  test("empty extract raises (F7, test_etl.py:18-21)") {
    val raw = IngestBatch.parseJson(spark, spark.emptyDataset[String])
    assertThrows[IngestBatch.EmptyBatchException](
      IngestBatch.requireNonEmpty(raw, "snapshot"))
  }

  test("missing required columns raise with every missing name (test_etl.py:24-28)") {
    val raw = IngestBatch.parseJson(spark, Seq("""{"sno":"1","sna":"x"}""").toDS())
    val e = intercept[IngestBatch.MissingColumnsException](
      IngestBatch.validate(raw, IngestBatch.RequiredInfo))
    assert(e.missing.toSet === Set("sarea", "latitude", "longitude", "Quantity"))
  }

  test("one-row fixture transforms to exact dim+fact shapes (test_etl.py:31-57)") {
    val raw = IngestBatch.parseJson(spark, fixtureJson.toDS())
    val (dim, fact) = IngestBatch.transform(raw)
    assert(dim.columns.toSeq === Seq("station_no", "name_tw", "district", "lat", "lng", "total_spaces"))
    assert(fact.columns.toSeq === Seq("station_no", "bikes_available", "spaces_available", "record_time"))
    val d = dim.collect()(0)
    assert(d.getAs[String]("station_no") === "500101001")
    assert(d.getAs[Int]("total_spaces") === 28)
    val f = fact.collect()(0)
    assert(f.getAs[Int]("bikes_available") === 10)
    // Taipei 08:30 wall → 00:30 UTC (the +8 h trap, session TZ UTC)
    assert(f.getAs[Timestamp]("record_time") === Timestamp.valueOf("2024-03-01 00:30:00"))
  }

  test("lenient cast coerces malformed numerics to null, not an ANSI error (P5, 01:65)") {
    val raw = IngestBatch.parseJson(spark, Seq(
      fixtureJson.head.replace("\"28\"", "\"N/A\"")).toDS())
    val (dim, _) = IngestBatch.transform(raw)
    assert(dim.collect()(0).isNullAt(dim.columns.indexOf("total_spaces")))
  }

  test("renameByMap: renames only existing sources and never clobbers an existing target (P3, 03:57-63)") {
    val df = Seq((1, 2)).toDF("sno", "station_no")
    val out = IngestBatch.renameByMap(df, Map(
      "sno" -> "station_no", // target exists → skip
      "absent" -> "whatever", // source missing → skip
      "station_no" -> "sid")) // normal rename
    assert(out.columns.toSeq === Seq("sno", "sid"))
  }

  test("dim dedup keeps one row per station; fact dedup drops unique-key replays (A8+S8)") {
    val twoSnapshots = IngestBatch.parseJson(spark, (fixtureJson ++ fixtureJson).toDS())
    val (dim, fact) = IngestBatch.transform(twoSnapshots)
    assert(dim.count() === 1)
    assert(fact.count() === 2)
    assert(IngestBatch.dedupFacts(fact).count() === 1)
  }

  test("anti-join upsert inserts only unseen stations (J4, etl_job.py:121-122)") {
    val incoming = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("station_no", "x")
    val existing = Seq(("b", 99)).toDF("station_no", "y")
    val out = IngestBatch.newDimsOnly(incoming, existing, "station_no")
      .select("station_no").as[String].collect().toSet
    assert(out === Set("a", "c"))
  }

  test("transform: an empty extract raises EmptyBatch; an empty record raises MissingColumns") {
    assertThrows[IngestBatch.EmptyBatchException](
      IngestBatch.transform(IngestBatch.parseJson(spark, spark.emptyDataset[String])))
    val e = intercept[IngestBatch.MissingColumnsException](
      IngestBatch.transform(IngestBatch.parseJson(spark, Seq("{}").toDS())))
    assert(e.missing.toSet === (IngestBatch.RequiredInfo ++ IngestBatch.RequiredStatus).toSet)
  }

  test("anti-join upsert is unchanged by duplicated existing keys") {
    val incoming = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("station_no", "x")
    val existing = Seq(("b", 99), ("b", 98), ("c", 1), ("c", 1)).toDF("station_no", "y")
    val out = IngestBatch.newDimsOnly(incoming, existing, "station_no")
      .select("station_no", "x").as[(String, Int)].collect()
    assert(out.toSeq === Seq(("a", 1)))
  }
}
