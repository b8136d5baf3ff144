package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Batch-14 specs: residual-encoded IVFADC (hand-computed encode/ADC
  * semantics + the exact-recovery boundary) and the fully-trained
  * IVF+PQ compose (iters=0 ≡ the md5 seed tables). */
class Batch14Spec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Hand case (numSub=1, subDim=2): one cell (centroid v0), residual
    * codebook seeded from v1, v2. v3's residual (-0.1, 0.1) is nearer
    * v1's (-0.2, 0.6) than v2's (-0.4, -0.8), so v3 encodes AS v1 and
    * its reconstruction x̂3 = c + w1 = v1 exactly — the ADC estimate
    * for v3 equals cos(q, v1), which ties with v1 itself and loses the
    * m=1 shortlist on the vec_id tiebreak, while m=2 lets the exact
    * rerank restore v3 (true cos 0.9939) to the top. */
  private val handVecs = Seq(
    (0L, Array(1.0f, 0.0f)),    // centroid + query
    (1L, Array(0.8f, 0.6f)),    // seed 1 -> w1 = (-0.2, 0.6) micro
    (2L, Array(0.6f, -0.8f)),   // seed 2 -> w2 = (-0.4, -0.8) micro
    (3L, Array(0.9f, 0.1f)))    // encodes to code 1 (x̂ = v1)

  test("residual IVFADC: hand-computed encode, ADC tie, rerank recovery") {
    val emb = handVecs.toDF("vec_id", "embedding")
    def serve(m: Int) = Similarity.annIvfPqResidualTopK(emb,
      numQueries = 1, m = m, k = 1, numCentroids = 1, nProbe = 1,
      numSub = 1, subDim = 2, numCodes = 2)
      .select("query_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSeq
    // m=1: the ADC shortlist keeps only the tie-broken winner v1
    assert(serve(1) === Seq((0L, 1L, 0.8, 1)))
    // m=2: v3 enters the shortlist (ADC tie with v1) and the exact
    // rerank puts it first — cos(v0, v3) = 0.9 / sqrt(0.82)
    val m2 = serve(2)
    assert(m2.head._2 === 3L && m2.head._4 === 1)
    assert(math.abs(m2.head._3 - 0.9 / math.sqrt(0.82)) < 1e-6)
  }

  test("residual IVFADC: nProbe=C, m=corpus degrades to exact brute force") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val exact = Similarity.annCosineTopK(emb, numQueries = 4, k = 3)
      .select("query_id", "neighbor_id", "rnk")
      .as[(Long, Long, Int)].collect().toSet
    val res = Similarity.annIvfPqResidualTopK(emb, numQueries = 4,
      m = 100000, k = 3, numCentroids = 16, nProbe = 16)
      .select("query_id", "neighbor_id", "rnk")
      .as[(Long, Long, Int)].collect().toSet
    assert(res === exact,
      "full probing + full shortlist + exact rerank must equal brute force")
  }

  test("pqResidualRecall: one-pass curve — raw x residual per probe " +
      "budget, near-monotone in nProbe, shared denominator") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val rows = Similarity.pqResidualRecall(emb)
      .select("encoding", "n_probe", "hits", "recall_bp")
      .as[(String, Int, Long, Long)].collect().toSeq
    assert(rows.map(r => (r._1, r._2)).toSet ===
      (for (e <- Seq("raw", "residual"); p <- Seq(1, 2, 4)) yield (e, p))
        .toSet)
    rows.foreach { case (_, _, hits, bp) =>
      assert(bp === (10000L * hits) / (32L * 5L),
        "denominator must be the actual held-out count (32 at this sf)")
    }
    // Strict monotonicity in nProbe is NOT a true invariant (r14
    // ADVICE): ADC scores are approximate, so widening the candidate
    // set can push a true neighbor below rank k behind a higher-ADC-
    // scored non-neighbor. What IS guaranteed is that the candidate
    // SETS nest; empirically the curves on this pinned testdata rise
    // — assert that shape with a small-dip allowance (2 hits = 125 bp
    // at the 32×5 denominator) so a parameter/data refresh can't fail
    // the suite for a non-bug reason.
    val dipBp = 125L
    Seq("raw", "residual").foreach { e =>
      val curve = rows.filter(_._1 == e).sortBy(_._2).map(_._4)
      assert(curve.zip(curve.tail).forall { case (a, b) => b >= a - dipBp },
        s"$e recall should be near-monotone in nProbe (dips <= $dipBp " +
          s"bp): $curve")
    }
  }

  test("trained residual compose at iters=0: hand case pins the " +
      "micro-scale CAST (trained centroids are already micro)") {
    // iters=0: the coarse centroid is the md5-min vector (v1 — md5("1")
    // sorts first among 0..3) and the residual codebook holds the
    // md5-first two vectors' residuals against it (v1 -> the ZERO
    // residual, v2). v0 and v3 both encode as code 1 (x̂ = v1 exactly),
    // so the ADC ties v1/v3 at cos(v0, v1) = 0.8 — identical structure
    // to the seeded hand case, but through the CAST path: had the
    // trained centroids been re-scaled ×10⁶ like raw ones, residuals
    // would sit near -8·10¹¹ and every code and tie here would differ.
    val emb = handVecs.toDF("vec_id", "embedding")
    def serve(m: Int) = Similarity.annIvfPqResidualTrained(emb,
      numQueries = 1, m = m, k = 1, numCentroids = 1, nProbe = 1,
      numSub = 1, subDim = 2, numCodes = 2, iters = 0)
      .select("query_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(serve(1) === Seq((0L, 1L, 0.8, 1)))
    val m2 = serve(2)
    assert(m2.head._2 === 3L && m2.head._4 === 1)
    assert(math.abs(m2.head._3 - 0.9 / math.sqrt(0.82)) < 1e-6)
  }

  test("residual from-index serving == the rebuild plan, row for row") {
    val out1 = Similarity.annIvfPqResidualFromIndexQuery(spark, sf)
      .select("query_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    val out2 = Similarity.annIvfPqResidualTopK(
        graft.core.Tables.embeddings(spark, sf))
      .select("query_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(out1 === out2,
      "the stored-index read path must serve exactly the rebuild plan")
  }

  test("residual index written partitionBy(cell): a cell probe prunes " +
      "the scan to that partition") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_respq").toString
    val emb = graft.core.Tables.embeddings(spark, sf)
    val cents = Similarity.defaultCentroids(emb, 16).localCheckpoint()
    Similarity.residualPqIndexRows(emb, cents)
      .write.partitionBy("cell").mode("overwrite").parquet(tmp)
    val index = spark.read.parquet(tmp)
    val total = index.count()
    // probe the cell nearest query 40 under the serving rule
    val probed = Similarity.vectors(emb)
      .filter(col("vec_id") === 40L).crossJoin(cents)
      .withColumn("ccos",
        round(graft.functions.CosineSimilarity(col("e"), col("ce")), 6))
      .orderBy(col("ccos").desc, col("cid")).limit(1)
      .select("cid").as[Long].collect()(0)
    val filtered = index.filter(col("cell") === probed)
    val cellRows = filtered.count()
    assert(cellRows > 0 && cellRows < total,
      "the probed cell must be a strict nonempty subset")
    assert(rowsRead(filtered, partitionedScansOnly = true) === cellRows,
      "the scan must READ only the probed cell's partition")
    val planStr = filtered.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters"),
      s"cell predicate did not become a partition filter:\n$planStr")
    // the index payload really is M small ints per vector
    val w = index.select(org.apache.spark.sql.functions.size(col("codes")))
      .distinct().as[Int].collect().toSeq
    assert(w === Seq(8), "every row stores exactly numSub codes")
  }

  test("pqResidualTrainedRecall: two codebook rows, shared denominator") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val rows = Similarity.pqResidualTrainedRecall(emb)
      .select("codebook", "hits", "recall_bp")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(rows.map(_._1) === Seq("seeded", "trained"))
    rows.foreach { case (_, hits, bp) =>
      assert(bp === (10000L * hits) / (8L * 5L))
    }
  }

  test("pavPools: hand-computed pooling, leftmost-first, ties stand") {
    // monotone input: untouched
    assert(QualityModels.pavPools(Seq((10L, 1L), (10L, 5L), (10L, 9L)))
      === Seq((0, 0, 10L, 1L), (1, 1, 10L, 5L), (2, 2, 10L, 9L)))
    // single violation pools the pair: rates 0.8, 0.2 -> pooled 0.5
    assert(QualityModels.pavPools(Seq((10L, 8L), (10L, 2L)))
      === Seq((0, 1, 20L, 10L)))
    // cascade: [0.9, 0.5, 0.1] -> leftmost merge (0.9,0.5)=0.7, then
    // 0.7 > 0.1 merges again -> one pool of rate 0.5
    assert(QualityModels.pavPools(Seq((10L, 9L), (10L, 5L), (10L, 1L)))
      === Seq((0, 2, 30L, 15L)))
    // equal rates are NOT violations (strict comparison)
    assert(QualityModels.pavPools(Seq((10L, 4L), (20L, 8L)))
      === Seq((0, 0, 10L, 4L), (1, 1, 20L, 8L)))
    // weighted pooling: (n=1,p=1 rate 1.0) then (n=99,p=0) -> 1/100
    assert(QualityModels.pavPools(Seq((1L, 1L), (99L, 0L)))
      === Seq((0, 1, 100L, 1L)))
  }

  test("qualityCalibrated: monotone fit, reduced mean gap vs the diagram") {
    val docs = graft.core.Tables.documents(spark, sf)
    val cal = QualityModels.qualityCalibrated(docs)
      .select("bin", "n_docs", "obs_pos_bp", "cal_bp", "gap_bp")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // the calibrated curve is non-decreasing in the bin order — the
    // isotonic contract raw mean_pred violates on this model
    assert(cal.map(_._4).zip(cal.map(_._4).tail)
      .forall { case (a, b) => a <= b }, "cal_bp must be monotone")
    assert(cal.forall { case (_, _, obs, calv, gap) =>
      gap === math.abs(calv - obs) })
    val diag = QualityModels.qualityCalibration(docs)
      .select("gap_bp").as[Long].collect()
    assert(cal.map(_._5).sum / cal.length < diag.sum / diag.length,
      "PAV must reduce the mean reliability gap")
  }

  test("trained compose at iters=0 serves from the md5 seed tables") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    // the iters=0 trainers must return the md5-ordered seed samples
    val ids = Similarity.vectors(emb).select(col("vec_id"))
      .as[Long].collect()
    def md5hex(id: Long): String = java.security.MessageDigest
      .getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val sample = ids.sortBy(id => (md5hex(id), id)).take(16).toSeq
    val cents0 = Similarity.trainIvfCentroidsExact(emb, 16, iters = 0)
    val centIds = cents0.select("cid").as[Long].collect().sorted.toSeq
    assert(centIds === (1L to 16L),
      "iters=0 centroids carry sample ranks 1..C as cids")
    // each seed centroid is its sample vector's micro rounding
    val vm = Similarity.vectors(emb)
      .select(col("vec_id"),
        transform(col("e"),
          x => round(x * lit(1000000.0d)).cast("long")).as("em"))
      .as[(Long, Seq[Long])].collect().toMap
    val ce = cents0.select(col("cid"),
        transform(col("ce"), _.cast("long")).as("cm"))
      .as[(Long, Seq[Long])].collect().toMap
    sample.zipWithIndex.foreach { case (id, i) =>
      assert(ce(i + 1L) === vm(id),
        s"seed centroid ${i + 1} must be vector $id's micro rounding")
    }
    // and the compose at iters=0 == serving from those explicit tables
    val viaTrained = Similarity.annIvfPqTrained(emb, iters = 0)
      .select("query_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    val viaWith = Similarity.annIvfPqTopKWith(emb,
      Similarity.trainIvfCentroidsExact(emb, 16, 0),
      Similarity.pqTrainCodebook(emb, 8, 8, 16, 0),
      numQueries = 8, m = 12, k = 3, nProbe = 4, numSub = 8, subDim = 8)
      .select("query_id", "neighbor_id", "cos", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(viaTrained === viaWith)
  }
}
