package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.SparkFixture

/** The shared similarity kernels, pinned on hand-built inputs: MinHash
  * banding ([[Dedup.banded]]), candidate verification and verdict rollup
  * ([[Dedup.verifiedPairs]], [[Dedup.verdicts]]) and the Lloyd step with
  * each caller's empty-cluster rule ([[Similarity.lloyd]]). */
class SimilarityKernelSpec extends AnyFunSuite with SparkFixture {

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  test("banding shingle strings and banding their h32 hashes give the same rows") {
    import spark.implicits._
    val shs = Seq(
      Array("a b c", "b c d", "c d e"),
      Array("the cat sat", "cat sat on", "sat on the", "on the mat"),
      Array("x y z"))
    val hashed = s"array_sort(array_distinct(transform(shs, s -> ${Shingles.h32("s")}))) AS shs"
    for (strings <- Seq(shs.indices.map(i => (i * 7L, shs(i))).toDF("doc_id", "shs"),
                        shs.indices.map(i => (s"conv_$i", shs(i))).toDF("conv_id", "shs"))) {
      val id = strings.columns.head
      val fromStrings = Dedup.banded(strings)
      val fromHashes = Dedup.banded(strings.selectExpr(id, hashed))
      assert(fromStrings.columns.toSeq == Seq(id, "band", "key"))
      assert(fromStrings.schema(id).dataType == strings.schema(id).dataType)
      assert(fromStrings.count() == shs.size * Dedup.Bands)
      assert(rows(fromStrings) == rows(fromHashes), s"$id ids")
      // distinct sets band apart: the test is not comparing constants
      assert(rows(fromStrings.where("band = 0")).map(_(2)).size == shs.size)
    }
  }

  test("verification scores exact Jaccard ppm and the rollup counts verdicts") {
    import spark.implicits._
    // every pair shares band 0, so every pair is a candidate
    val bands = (1L to 4L).map(id => (id, 0, 7L)).toDF("doc_id", "band", "key")
    val sets = Seq(
      (1L, Array("a", "b", "c")),
      (2L, Array("d", "e")), // disjoint from 1
      (3L, Array("a", "b", "c")), // identical to 1
      (4L, Array("a", "b"))) // strict subset of 1: 2/3
      .toDF("doc_id", "shs")
    val pairs = Dedup.verifiedPairs(bands, bands, "x.doc_id < y.doc_id", sets, sets, "doc_id", "partner")
    assert(pairs.columns.toSeq == Seq("doc_id", "partner", "n_shared_bands", "jaccard_ppm"))
    assert(rows(pairs) == Set(
      Seq(1L, 2L, 1L, 0L), Seq(1L, 3L, 1L, 1000000L), Seq(1L, 4L, 1L, 666666L),
      Seq(2L, 3L, 1L, 0L), Seq(2L, 4L, 1L, 0L), Seq(3L, 4L, 1L, 666666L)))

    val universe = (1L to 5L).toDF("doc_id")
    val v = Dedup.verdicts(universe, pairs, 500000L)
    assert(v.columns.toSeq ==
      Seq("doc_id", "n_candidates", "max_jaccard_ppm", "n_dups", "dup_of"))
    assert(rows(v) == Set(
      Seq(1L, 3L, 1000000L, 2L, 3L), Seq(2L, 2L, 0L, 0L, null),
      Seq(3L, 1L, 666666L, 1L, 4L), Seq(4L, 0L, 0L, 0L, null), Seq(5L, 0L, 0L, 0L, null)))
  }

  /** Seeds 0 and 1 coincide, so the tie sends every row to seed 0 and
    * cluster 1 loses every member in the first round. */
  private def grid: Dataset[(Long, Array[Long])] = {
    import spark.implicits._
    Seq((0L, Array(0L, 0L)), (1L, Array(0L, 0L)), (2L, Array(10L, 10L)),
        (3L, Array(2L, 2L)), (4L, Array(12L, 12L)))
      .toDF("vec_id", "x").as[(Long, Array[Long])]
  }

  test("a Lloyd step drops an emptied cluster on the k-means and PQ paths") {
    val km = Similarity.lloydCentroids(grid, k = 3, iters = 2, "kmeans")
    assert(km.ids.toSeq == Seq(0L, 2L))
    // cluster 0: (0+0+2) DIV 3 = 0; cluster 2: (10+12) DIV 2 = 11
    assert(km.ms.map(_.toSeq).toSeq == Seq(Seq(0L, 0L), Seq(11L, 11L)))
    val books = Similarity.trainBooks(grid, m = 2, ks = 3, rounds = 1, "annPq", identity)
    assert(books.map(_.ids.toSeq).toSeq == Seq(Seq(0L, 2L), Seq(0L, 2L)))
    assert(books.map(_.ms.map(_.toSeq).toSeq).toSeq ==
      Seq(Seq(Seq(0L), Seq(11L)), Seq(Seq(0L), Seq(11L))))
  }

  test("a Lloyd step keeps an emptied IVF cell's previous centroid at its index") {
    val seed = grid.collect().sortBy(_._1).take(3).map(_._2)
    val cells = Similarity.ivfTrainCells(grid, seed, 1, "annIvf: trainIters", "no cell")
    assert(cells.map(_.toSeq).toSeq == Seq(Seq(0L, 0L), Seq(0L, 0L), Seq(11L, 11L)))
  }

  test("Lloyd round counts below zero fail loudly, naming the parameter") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val emb = (0L until 24L).map(i => (i, Array.fill(4)(rnd.nextFloat()), 0))
      .toDF("vec_id", "embedding", "label")
    for ((call, param) <- Seq[(() => Any, String)](
           (() => Similarity.kmeans(emb, k = 2, iters = 0), "kmeans: iters"),
           (() => Similarity.semanticDedup(emb, k = 2, iters = 0), "semanticDedup: iters"),
           (() => Similarity.annPq(emb, m = 2, ks = 2, trainRounds = -1), "annPq: trainRounds"),
           (() => Similarity.annIvfPq(emb, nCells = 2, m = 2, ks = 2, coarseRounds = -1),
             "annIvfPq: coarseRounds"),
           (() => Similarity.annIvfPq(emb, nCells = 2, m = 2, ks = 2, trainRounds = -1),
             "annIvfPq: trainRounds"),
           (() => Similarity.annIvf(emb, nCells = 2, trainIters = -1), "annIvf: trainIters"),
           (() => Similarity.annIvfAppend(emb, nCells = 2, trainIters = -1),
             "annIvfAppend: trainIters"))) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(param), e.getMessage)
    }
  }
}
