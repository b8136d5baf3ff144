package graft

import org.apache.spark.sql.Row

/** The write-order canary behind the driver's positional hash compare
  * (the r12 contract closing the r11 `score_percentile_norm` hash red):
  * Verify.writeDeterministic must persist rows in EXACTLY the declared
  * orderBy order, and its built-in re-read canary must catch any
  * divergence. Exercised on representative oracle queries at sf0.001 —
  * including score_percentile_norm itself — plus synthetic frames that
  * stress the round-trip comparator (NaN, arrays, structs). */
class VerifyOrderSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val tmp = java.nio.file.Files
    .createTempDirectory("verify-order").toString

  // the red-cell query itself + a mix of shapes: strings, timestamps,
  // arrays, multi-column sorts
  private val names = Seq("score_percentile_norm", "q1_pricing_summary",
    "ts_parse_format", "value_percentiles", "ann_cosine_topk")

  test("writeDeterministic round-trips oracle queries row-for-row") {
    assert(names.nonEmpty, "no known query names resolved")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val expected = df.collect()
      Verify.writeDeterministic(df, s"$tmp/$name") // canary asserts internally
      val back = spark.read.schema(df.schema).parquet(s"$tmp/$name").collect()
      assert(back.length === expected.length, s"$name row count")
      expected.indices.foreach { i =>
        assert(Verify.rowEq(expected(i), back(i)),
          s"$name row $i: ${expected(i)} vs ${back(i)}")
      }
    }
  }

  test("written file order equals the declared orderBy for score_percentile_norm") {
    val df = SparkEntry.queries("score_percentile_norm")(spark, dir)
    Verify.writeDeterministic(df, s"$tmp/spn_order")
    val ids = spark.read.parquet(s"$tmp/spn_order")
      .select("doc_id").as[Long].collect()
    assert(ids.toSeq === ids.sorted.toSeq,
      "file order must be the query's orderBy(doc_id) order")
    assert(ids.length > 0)
  }

  test("rowEq: NaN==NaN, byte arrays by content, nested rows") {
    assert(Verify.rowEq(Double.NaN, Double.NaN))
    assert(!Verify.rowEq(1.0d, Double.NaN))
    assert(Verify.rowEq(Array[Byte](1, 2), Array[Byte](1, 2)))
    assert(!Verify.rowEq(Array[Byte](1, 2), Array[Byte](2, 1)))
    assert(Verify.rowEq(Row(1L, Seq("a", "b")), Row(1L, Seq("a", "b"))))
    assert(!Verify.rowEq(Row(1L, Seq("a")), Row(1L, Seq("b"))))
    assert(Verify.rowEq(Map("k" -> 1L), Map("k" -> 1L)))
  }

  test("writeDeterministic preserves a descending multi-column sort") {
    val df = (1 to 500).map(i => (i.toLong, (i % 7).toLong))
      .toDF("a", "b").orderBy($"b".desc, $"a".asc)
    Verify.writeDeterministic(df, s"$tmp/desc_sort")
    val got = spark.read.parquet(s"$tmp/desc_sort")
      .as[(Long, Long)].collect().toSeq
    val want = (1 to 500).map(i => (i.toLong, (i % 7).toLong))
      .sortBy { case (a, b) => (-b, a) }
    assert(got === want)
  }

  test("unknownQueries names every comma-list entry that is not a query") {
    assert(Verify.unknownQueries(None).isEmpty, "no list: dump everything")
    assert(Verify.unknownQueries(Some(Set("lm_heldout_trigram",
      "lm_heldout_trigarm", "kn_prune"))) === Seq("kn_prune",
      "lm_heldout_trigarm"))
  }
}
