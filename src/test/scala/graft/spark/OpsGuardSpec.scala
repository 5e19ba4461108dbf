package graft.spark

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, EventOps, Similarity}

/** The scale guards must FAIL LOUDLY, not degrade silently — these tests
  * drive each guard to its trip point. */
class OpsGuardSpec extends AnyFunSuite with SparkFixture {

  test("dedupClusters refuses to return silently split components past maxIters") {
    import spark.implicits._
    // a 7-doc chain: doc i near-dups doc i+1 only → component diameter 6.
    // Alternating large-star/small-star needs ~2·log2(7) ≈ 4 rounds, so
    // maxIters = 2 cannot converge and must throw, not return split labels.
    val texts = (0 to 6).map { i =>
      // 19 tokens, 14 shared with each neighbor → shingle Jaccard ≈ 0.55;
      // docs two hops apart share only ≈ 0.26 → edges form a pure chain
      (i.toLong, (i * 5 until i * 5 + 19).map(k => s"w$k").mkString(" "))
    }
    val docs = texts.toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupClusters(docs, thresholdPpm = 300000L, maxIters = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // with enough rounds the same chain converges to ONE component
    val ok = Dedup.dedupClusters(docs, thresholdPpm = 300000L, maxIters = 20)
      .select("component").distinct().collect()
    assert(ok.length == 1)
  }

  test("connected components converge on a long chain in ~2·log2(n) rounds, not diameter") {
    import spark.implicits._
    // 200-node chain (diameter 199 ≫ the old min-label-propagation budget)
    // plus one isolated node; large-star/small-star must finish in
    // O(log n) rounds with every chain node labeled 0
    val edges = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val nodes = ((0L to 199L) :+ 999L).toDF("doc_id")
    val (labels, rounds) = Dedup.connectedComponentsFromEdges(edges, nodes, maxIters = 20)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 199L).forall(got(_) == 0L), "chain must collapse to component 0")
    assert(got(999L) == 999L, "isolated node labels itself")
    assert(rounds <= 2 * 8 + 2, s"expected ~2*log2(200)=16 rounds, took $rounds")
  }

  test("connected components match a sequential union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 2) {
      val n = 60 + rnd.nextInt(60)
      val edges = Seq.fill(rnd.nextInt(2 * n))((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      // union-find oracle; linking the larger root beneath the smaller keeps
      // every final root = its component's minimum node id
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val (labels, _) = Dedup.connectedComponentsFromEdges(
        edges.toDF("a", "b"), (0L until n.toLong).toDF("doc_id"), maxIters = 30)
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"n=$n edges=${edges.size}")
    }
  }

  test("intervalJoin fails loudly when one interval explodes into too many bins") {
    import java.sql.Timestamp
    import spark.implicits._
    // one session of user 0 spanning 100s; binSeconds=1 → 101 bins > cap 10
    val events = (0 until 3).map { i =>
      (i.toLong, new Timestamp(1767225600000L + i * 50000L), 0L, "view", "1.0", "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val e = intercept[Exception] {
      EventOps.intervalJoin(events, binSeconds = 1L, maxBinsPerInterval = 10L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("use a wider binSeconds")), e.toString)
    // the same data passes with a sane bin width
    val ok = EventOps.intervalJoin(events, binSeconds = 3600L).collect()
    assert(ok.length == 1 && ok.head.getAs[Long]("n_events") == 3L)
  }

  test("derivedBinWidth keeps the histQuantiles bin window bounded on a wide-range corpus") {
    import spark.implicits._
    // n_chars spanning ~67M: the fixed default width (64) would push ~1M
    // bins through the cumulative pass's single-partition window; the
    // derived width keeps it at <= maxBins on ANY corpus
    val docs = (0L until 4000L)
      .map(i => (i, (i * 16787L) % 67108864L))
      .toDF("doc_id", "n_chars")
    val maxBins = 1024L
    val bw = graft.ops.DocTextOps.derivedBinWidth(docs, maxBins)
    // smallest power of two keeping range/bw <= maxBins
    assert((bw & (bw - 1)) == 0L, s"bin width must be a power of two, got $bw")
    val range = 67108864L
    assert(range / bw <= maxBins && (bw == 1L || range / (bw / 2) > maxBins),
      s"derived width $bw is not the smallest power of two for $maxBins bins")
    // the quantiles under the derived width are exact at every rank
    val got = graft.ops.DocTextOps.histQuantiles(docs, binWidth = bw).collect()
      .map(r => r.getAs[Long]("q_ppm") -> r.getAs[Long]("exact")).toMap
    val sorted = (0L until 4000L).map(i => (i * 16787L) % 67108864L).sorted
    def want(ppm: Long) = sorted(((ppm * 4000L + 999999L) / 1000000L - 1L).toInt)
    Seq(250000L, 500000L, 750000L, 900000L, 990000L).foreach { q =>
      assert(got(q) === want(q), s"exact quantile at $q ppm under derived width $bw")
    }
    // degenerate corpora stay sane: empty -> width 1, constant -> width 1
    assert(graft.ops.DocTextOps.derivedBinWidth(
      Seq.empty[(Long, Long)].toDF("doc_id", "n_chars"), maxBins) === 1L)
    assert(graft.ops.DocTextOps.derivedBinWidth(
      Seq((1L, 42L), (2L, 42L)).toDF("doc_id", "n_chars"), maxBins) === 1L)
    intercept[IllegalArgumentException](
      graft.ops.DocTextOps.histQuantiles(docs, binWidth = 0L))
  }

  test("simhash excludes null-text documents (the oracle's unnest semantics)") {
    import spark.implicits._
    val df = Seq((1L, Some("a b c")), (2L, None), (3L, Some("a b c")))
      .toDF("doc_id", "text")
    assert(Dedup.simhash(df).collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    val pairs = Dedup.simhashPairs(df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 3L)), s"got $pairs")
  }

  test("annLsh fails loudly on embeddings wider than the precomputed hyperplanes") {
    import spark.implicits._
    val wide = (0L until 5L).map(i => (i, Array.fill(300)(0.5f), "a"))
      .toDF("vec_id", "embedding", "label")
    val e = intercept[Exception] {
      Similarity.annLsh(wide).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("exceeds the 256-dim precomputed hyperplanes")), e.toString)
  }
}
