package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CI recall gate for the ANN family (r10 verdict ask #6): the oracle
  * rows pin determinism, not retrieval quality — a config drift
  * (nprobe, bands, codebook size) could halve recall while every
  * catalog row stays green. This spec measures recall@10 against the
  * exact brute-force baseline on the driver's sf0.001 embeddings
  * (500 × 64d, deterministic) and asserts:
  *  - structure: IVF probing EVERY cell is exactly the brute-force
  *    answer (recall 1.0 — the bounded arms' correctness anchor);
  *  - ordering: trained codebooks/cells never fall below their seeded
  *    baselines (the whole point of trainIters — PLANS.md round 11
  *    records 0.280 vs 0.234 ADC, 0.220 vs 0.132 residual at these
  *    configs);
  *  - floors: each family stays above a hard floor set ~35% below its
  *    measured value — tight enough that a recall halving fails the
  *    build, loose enough that benign rounding shifts don't.
  *
  * Everything here is deterministic (seeded centroids, fixed corpus,
  * rounded similarities), so the measured values are stable across
  * runs; a FAIL means the retrieval code or config actually changed.
  */
class RecallGateSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val k = 10
  private val nQ = 50

  private lazy val emb =
    Tables.load(spark, sf, "embeddings").localCheckpoint()
  private lazy val queries = emb.filter(col("vec_id") < nQ)
  private lazy val exact = Similarity
    .bruteForceTopK(queries, emb, k)
    .select(col("query_id"), col("neighbor_id")).localCheckpoint()
  private lazy val denom = exact.count().toDouble

  private def recall(df: DataFrame): Double = {
    val hits = df.select(col("query_id"), col("neighbor_id"))
      .join(exact, Seq("query_id", "neighbor_id")).count()
    spark.catalog.clearCache()
    hits / denom
  }

  test("IVF probing every cell ≡ brute force (recall exactly 1.0)") {
    val r = recall(Similarity.ivfTopK(queries, emb, k,
      nCentroids = 8, nprobe = 8))
    assert(r == 1.0, s"full-probe IVF recall $r != 1.0")
  }

  test("IVF at nprobe 2 holds its floor") {
    val r = recall(Similarity.ivfTopK(queries, emb, k,
      nCentroids = 8, nprobe = 2))
    info(f"ivf@2 recall $r%.4f")
    assert(r >= 0.35, s"IVF nprobe=2 recall $r below floor 0.35")
  }

  test("PQ ADC: trained codebooks ≥ seeded, both above floor") {
    val seeded = recall(Similarity.pqTopK(queries, emb, k,
      dims = 64, m = 8, nCentroids = 16))
    val trained = recall(Similarity.pqTopK(queries, emb, k,
      dims = 64, m = 8, nCentroids = 16, trainIters = 3))
    info(f"pq seeded $seeded%.4f trained $trained%.4f")
    assert(trained >= seeded,
      s"training REDUCED ADC recall: $trained < $seeded")
    assert(seeded >= 0.15, s"seeded ADC recall $seeded below floor")
    assert(trained >= 0.18, s"trained ADC recall $trained below floor")
  }

  test("LSH candidate generation (q262/q300 config: 6 tables × 4 " +
      "planes, 64d) holds its pair-yield and downstream-recall floors") {
    import org.apache.spark.sql.DataFrame
    // the oracle rows replay the same LSH config, so a bands/tables
    // drift keeps every catalog row green while silently shrinking
    // the candidate set — this gate pins retrieval QUALITY (r11
    // verdict ask #5). Measured on this corpus: yield 0.323, mutual
    // recall 0.673, margin top-1 agreement 0.604; floors ~35% below.
    val n = emb.count()
    val cand = Similarity.lshNearDupPairs(emb, threshold = -1.0,
      tables = 6, planesPerTable = 4, dims = 64)
      .select(col("da"), col("db")).localCheckpoint()
    val yld = cand.count().toDouble / (n * (n - 1) / 2)
    info(f"lsh pair yield $yld%.4f")
    assert(yld >= 0.20, s"LSH pair yield $yld below floor 0.20")
    // bounded mutual-NN recall vs the exact arm
    val exactMutual = Similarity.mutualNearestNeighbors(emb)
      .select(col("a"), col("b")).localCheckpoint()
    val nExact = exactMutual.count().toDouble
    val hits = Similarity.mutualNearestNeighborsFromCandidates(cand, emb)
      .select(col("a"), col("b"))
      .join(exactMutual, Seq("a", "b"), "left_semi").count()
    val mRecall = hits / nExact
    info(f"lsh mutual-NN recall $mRecall%.4f")
    assert(mRecall >= 0.43,
      s"LSH mutual-NN recall $mRecall below floor 0.43")
    spark.catalog.clearCache()
  }

  test("LSH cross-corpus margin mining (q300 config) holds its top-1 " +
      "agreement floor vs the exhaustive arm") {
    val l = emb.filter(col("vec_id") % 2 === 0)
    val r = emb.filter(col("vec_id") % 2 === 1)
    val cross = Similarity.lshCrossPairs(l, r, tables = 6,
      planesPerTable = 4, dims = 64)
    val exact = Similarity.marginMiningScores(l, r, k = 3)
      .select(col("left_id"), col("right_id").as("ex_r"))
    val bounded = Similarity.marginMiningScoresFromCandidates(
        cross, l, r, k = 3)
      .select(col("left_id"), col("right_id").as("bd_r"))
      .localCheckpoint()
    val nLeft = l.count()
    // every left vector keeps ≥1 candidate at this config — the
    // bounded arm must not silently drop queries
    assert(bounded.count() == nLeft,
      s"bounded margin arm dropped lefts: ${bounded.count()} of $nLeft")
    val agree = exact.join(bounded, Seq("left_id"))
      .where(col("ex_r") === col("bd_r")).count()
    val rate = agree.toDouble / nLeft
    info(f"margin top-1 agreement $rate%.4f")
    assert(rate >= 0.39,
      s"margin top-1 agreement $rate below floor 0.39")
    spark.catalog.clearCache()
  }

  test("calibrateLshGeometry re-derives the gate's geometry: on this " +
      "corpus the (6,4) config is the cheapest clearing the exact-" +
      "top-1 recall floor, and its measured recall holds") {
    val l = emb.filter(col("vec_id") % 2 === 0)
    val r = emb.filter(col("vec_id") % 2 === 1)
    val rep = Similarity.calibrateLshGeometry(l, r,
        configs = Seq((2, 4), (6, 4), (6, 8)), dims = 64,
        sampleMod = 1, recallFloorPpm = 400000L)
      .collect().map(x => ((x.getAs[Long]("tables"),
        x.getAs[Long]("planes")), (x.getAs[Long]("recall_ppm"),
        x.getAs[Long]("n_cand_pairs"), x.getAs[Boolean]("passes"))))
      .toMap
    info(rep.toSeq.sortBy(_._1).map { case (c, v) =>
      s"$c recall=${v._1}ppm pairs=${v._2} passes=${v._3}"
    }.mkString("; "))
    // the mine()/q300 geometry must pass its own calibration — a
    // plane-family or bucketing drift that halves candidate recall
    // fails here even while the oracle rows (which replay the same
    // buckets) stay green
    assert(rep((6L, 4L))._3, s"(6,4) no longer passes: $rep")
    // and the calibration must still rank it ABOVE the cheap config
    // that PLANS.md round 12 measured losing (6×8 under-yields here)
    assert(rep((6L, 4L))._1 > rep((6L, 8L))._1,
      s"(6,8) overtook (6,4): $rep")
    spark.catalog.clearCache()
  }

  test("residual IVF-PQ: trained cells ≥ seeded, both above floor " +
      "(the q88 seeded-residual warning's measured basis)") {
    val seeded = recall(Similarity.ivfPqResidualTopK(queries, emb, k,
      nCells = 8, nprobe = 2, dims = 64, m = 8, nCentroids = 16,
      acknowledgeSeeded = true))
    val trained = recall(Similarity.ivfPqResidualTopK(queries, emb, k,
      nCells = 8, nprobe = 2, dims = 64, m = 8, nCentroids = 16,
      trainIters = 3))
    info(f"residual seeded $seeded%.4f trained $trained%.4f")
    assert(trained >= seeded,
      s"training REDUCED residual recall: $trained < $seeded")
    assert(seeded >= 0.08, s"seeded residual recall $seeded below floor")
    assert(trained >= 0.14,
      s"trained residual recall $trained below floor")
  }
}
