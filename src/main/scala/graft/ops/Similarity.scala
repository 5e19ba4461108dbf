package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Similarity search over an `embeddings(vec_id, embedding float[], label)`
  * table. Cosine is computed as an explicit left-to-right fold over doubles
  * with a zero seed — deterministic and reproducible bit-for-bit by any
  * engine that folds the same order, which is what lets the DuckDB oracle
  * hash-match double outputs. Per-row norms are projected ONCE below the
  * join (never recomputed per pair): `sim = dot(a,b) / (norm_a * norm_b)`
  * is bit-identical to `dot / (sqrt(dot(a,a)) * sqrt(dot(b,b)))`.
  *
  * Scale shapes:
  *  - brute-force top-k: broadcast the (small) query set against the big
  *    side — one pass, no shuffle of the corpus, top-k via window rank.
  *  - exact all-pairs baseline: distributed block nested-loop — blocks of
  *    rows cogrouped per block PAIR, tight JIT'd inner loops instead of
  *    per-pair Catalyst array expressions, bounded per-task memory, no
  *    driver materialization. O(n²) compute by contract; [[annLsh]] is the
  *    sub-quadratic path.
  *  - LSH-bucketed ANN: deterministic md5-derived random hyperplanes
  *    (precomputed driver-side into literal arrays — zero per-row md5 work)
  *    → sign-bit bucket key → equi-join on bucket (shuffle on bucket id,
  *    never all-pairs) → exact rerank inside buckets.
  */
object Similarity {

  /** Left fold `Σ a_i * b_i` over DOUBLE arrays with zero seed. */
  private def dotExpr(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (p, q) -> p * q), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"

  private def asDouble(col: String): String = s"transform($col, x -> CAST(x AS DOUBLE))"

  /** vec_id, v (double array), nv (= sqrt(v·v), projected once per row). */
  private def withNorm(embeddings: DataFrame): DataFrame =
    embeddings
      .selectExpr("vec_id", s"${asDouble("embedding")} AS v")
      .selectExpr("vec_id", "v", s"sqrt(${dotExpr("v", "v")}) AS nv")

  /** Brute-force cosine top-k: the first `nQueries` vectors (by vec_id) are
    * the query set, broadcast against the full corpus. Output:
    * (query_id, rank, neighbor_id, sim). */
  def knnBruteForce(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5): DataFrame = {
    val base = withNorm(embeddings)
    val queries = base.where(s"vec_id < $nQueries")
      .selectExpr("vec_id AS query_id", "v AS qv", "nv AS nq")
    val scored = base
      .join(broadcast(queries), expr("vec_id != query_id"))
      .selectExpr("query_id", "vec_id AS neighbor_id", s"${dotExpr("qv", "v")} / (nq * nv) AS sim")
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id")
          .orderBy(col("sim").desc, col("neighbor_id"))).cast("long"))
      .where(s"rank <= $k")
      .select("query_id", "rank", "neighbor_id", "sim")
      .orderBy("query_id", "rank")
  }

  /** All pairs with cosine ≥ threshold (exact, symmetric dedup by id order)
    * — the honest baseline the ANN path is measured against. Fully
    * distributed block nested-loop: vectors hash into `nBlocks` blocks by
    * id; every unordered block pair (i ≤ j) is one cogroup key, so each
    * task materializes at most TWO blocks (≈ 2·n/B vectors — bounded task
    * memory, nothing ever collected to the driver) and runs a tight JIT'd
    * dot-product loop over its pair. The O(n²) compute is the operator's
    * contract; shuffle volume is B·corpus (a row in block p is emitted
    * B−p times on the left and p times on the right, i.e. exactly B
    * copies). At larger corpora raise `nBlocks` so 2·n·dim·8/B stays inside
    * executor memory; [[annLsh]] remains the sub-quadratic path. */
  def nearDupPairs(embeddings: DataFrame, threshold: Double = 0.4,
                   nBlocks: Int = 16): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val b = nBlocks.toLong
    // (block, id, vector, norm) — norm projected once per row
    val base = embeddings
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", s"${asDouble("embedding")} AS v")
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        var acc = 0.0; var k = 0
        while (k < v.length) { acc += v(k) * v(k); k += 1 }
        (((id % b) + b) % b, id, v, math.sqrt(acc))
      }
    // pair key (i, j), i <= j, encoded i*B+j: a row in block p serves as the
    // LEFT side of every (p, j >= p) and the RIGHT side of every (i < p, p);
    // a within-block pair meets only at (p, p) on the left side.
    val left = base.flatMap(r => (r._1 to b - 1).map(j => (r._1 * b + j, r._2, r._3, r._4)))
    val right = base.flatMap(r => (0L until r._1).map(i => (i * b + r._1, r._2, r._3, r._4)))
    left.groupByKey(_._1).cogroup(right.groupByKey(_._1)) { (key, ls, rs) =>
      val a = ls.toArray
      val c = rs.toArray
      def emit(x: (Long, Long, Array[Double], Double),
               y: (Long, Long, Array[Double], Double)): Iterator[(Long, Long, Double)] = {
        val vx = x._3; val vy = y._3
        var acc = 0.0; var k = 0
        while (k < vx.length) { acc += vx(k) * vy(k); k += 1 }
        val sim = acc / (x._4 * y._4)
        if (sim >= threshold)
          Iterator.single((math.min(x._2, y._2), math.max(x._2, y._2), sim))
        else Iterator.empty
      }
      if (key % b == key / b)
        a.indices.iterator.flatMap(p => (p + 1 until a.length).iterator.flatMap(q => emit(a(p), a(q))))
      else
        a.iterator.flatMap(x => c.iterator.flatMap(y => emit(x, y)))
    }
      .toDF("vec_a", "vec_b", "sim")
      .orderBy("vec_a", "vec_b")
  }

  /** Recall@k of both ANN paths against the exact brute-force top-k —
    * "measure, don't guess": the approximate indexes ship with their
    * accuracy as a first-class, oracle-checked query. Exact integer ppm so
    * the number is engine-reproducible. */
  def annRecall(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5): DataFrame = {
    // the truth set is nQueries·k rows but sits under five join/agg
    // branches — materialize it once instead of recomputing brute-force
    // kNN per branch
    val truth = knnBruteForce(embeddings, nQueries, k).select("query_id", "neighbor_id")
      .localCheckpoint(true)
    def row(method: String, ann: DataFrame): DataFrame =
      truth.join(ann.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(truth.agg(count(lit(1)).as("n_possible")))
        .selectExpr(s"'$method' AS method", "n_hits", "n_possible",
          "(n_hits * 1000000) DIV n_possible AS recall_ppm")
    row("ivf", annIvf(embeddings, nQueries, k))
      .unionByName(row("lsh", annLsh(embeddings, nQueries, k)))
      .orderBy("method")
  }

  /** Per-label centroid accumulators: element-wise sums over the embedding
    * column, exact via power-of-two fixed-point (×2^20, floored to BIGINT —
    * float→double and ×2^k are exact, so the result is order-independent
    * and engine-identical; divide by `n` downstream for the mean). One
    * explode + one hash aggregate — the scale shape for computing class
    * centroids / cluster seeds over 10^12 vectors. */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .selectExpr("label", s"posexplode(${asDouble("embedding")}) AS (pos, v)")
      .selectExpr("label", "pos", "CAST(floor(v * 1048576) AS BIGINT) AS sv")
      .groupBy("label", "pos")
      .agg(expr("SUM(sv)").as("sum_scaled"), count(lit(1)).as("n"))
      .orderBy("label", "pos")

  /** Exact squared L2 between grid vectors. */
  private def sqDist(a: Array[Long], b: Array[Long]): Long = {
    var acc = 0L
    var i = 0
    while (i < a.length) { val t = a(i) - b(i); acc += t * t; i += 1 }
    acc
  }

  /** Index of the argmin-squared-distance centroid: the first strict min
    * in array order, so ties go to the smallest cluster id, cell index or
    * code (callers keep centroids in that order). Static, so RDD lambdas
    * referencing it close cleanly. */
  private def nearest(cs: Array[Array[Long]], x: Array[Long]): Int = {
    var best = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < cs.length) {
      val d = sqDist(x, cs(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Centroids keyed by their seed vec_id, ascending (the [[kmeans]] and
    * PQ codebook shape): [[nearest]] indexes both arrays, so a tie goes
    * to the smaller id. */
  private[ops] case class Keyed(ids: Array[Long], ms: Array[Array[Long]]) {
    def key(x: Array[Long]): Long = ids(nearest(ms, x))
    /** The empty-cluster rule of k-means and PQ: a centroid that lost
      * every member (no `mean`) dies. */
    def survivors(mean: Long => Option[Array[Long]]): Keyed = {
      val live = ids.flatMap(id => mean(id).map(id -> _))
      Keyed(live.map(_._1), live.map(_._2))
    }
  }

  /** The shared `(vec_id, 2^-20-grid vector)` projection behind [[kmeans]]
    * and [[semanticDedup]] (float→double and ×2^20 are exact). */
  private def gridDs(embeddings: DataFrame) = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    embeddings.selectExpr(
      "CAST(vec_id AS BIGINT) AS vec_id",
      s"transform(${asDouble("embedding")}, v -> CAST(floor(v * 1048576) AS BIGINT)) AS x")
      .as[(Long, Array[Long])]
  }

  /** Seeds: vectors with `vec_id < n`, which must be exactly 0..n-1. */
  private def seedVecs(xs: Dataset[(Long, Array[Long])], n: Int, what: String): Keyed = {
    val seeds = xs.where(s"vec_id < $n").collect().sortBy(_._1)
    require(seeds.length == n, s"$what: need vec_ids 0..${n - 1} as seeds, found ${seeds.length}")
    Keyed(seeds.map(_._1), seeds.map(_._2))
  }

  /** The Lloyd mean step, the one trainer behind every centroid set in
    * this file: per round, broadcast `state`, let `assign` map each grid
    * row to its (key, member vector) contributions, sum the members
    * elementwise per key in ONE typed scan + `reduceByKey` (keys·(dim+1)
    * longs cross the shuffle and come back in the collect; nothing scales
    * with the corpus), and pass each key's integer mean to
    * `update`. Long `/` truncates toward zero = SQL DIV, and exact Long
    * adds commute, so reduce order is immaterial and the DuckDB oracles
    * replay every round. A key no row chose has no mean: `update` applies
    * the caller's empty-cluster rule. Higher-order SQL lambdas would be
    * interpreted (measured ~2× the round cost). `rounds` is checked here,
    * before `init` runs, and `param` names it in the error. */
  private[ops] def lloyd[S: ClassTag, K: ClassTag](
      xs: Dataset[(Long, Array[Long])], rounds: Int, param: String, init: => S)(
      assign: (S, Array[Long]) => Iterator[(K, Array[Long])])(
      update: (S, Map[K, Array[Long]]) => S): S = {
    require(rounds >= 0, s"$param must be >= 0 Lloyd rounds, got $rounds")
    val sc = xs.sparkSession.sparkContext
    var state = init
    for (_ <- 1 to rounds) {
      val bc = sc.broadcast(state)
      val sums = xs.rdd
        .flatMap { case (_, x) => assign(bc.value, x).map { case (key, v) => (key, (v, 1L)) } }
        .reduceByKey { (p, q) =>
          val s = p._1.clone() // never mutate a shuffled buffer in place
          var i = 0
          while (i < s.length) { s(i) += q._1(i); i += 1 }
          (s, p._2 + q._2)
        }
        .collect()
      bc.destroy()
      state = update(state, sums.map { case (key, (s, n)) => key -> s.map(_ / n) }.toMap)
    }
    state
  }

  /** [[kmeans]]/[[semanticDedup]] centroids: first-`k`-id seeds, then
    * `iters - 1` Lloyd rounds (the final assignment is the last
    * iteration); a cluster that loses every member dies. */
  private[ops] def lloydCentroids(xs: Dataset[(Long, Array[Long])], k: Int, iters: Int,
                                  op: String): Keyed =
    lloyd(xs, iters - 1, s"$op: iters - 1", seedVecs(xs, k, op))(
      (c: Keyed, x) => Iterator.single((c.key(x), x)))((c, means) => c.survivors(means.get))

  /** K-means via Lloyd iterations, engine-exact: vectors are quantized to
    * the 2^-20 fixed-point grid (float→double and ×2^20 are exact), so
    * distances are BIGINT sums ((2·2^20)² · 64 dims ≈ 2^48 — no overflow,
    * no float-summation order sensitivity) and centroid updates are
    * `SUM DIV COUNT` integer truncation — every iteration is bit-identical
    * in any engine, which is what lets DuckDB replay all three rounds and
    * hash-match. Seeds are the first `k` vectors by id; ties in assignment
    * break toward the smaller cluster id; a cluster that loses all members
    * dies (standard Lloyd), mirrored by the oracle.
    *
    * Each round runs as a JIT'd typed kernel against a k·dim-long broadcast
    * (the [[annIvf]] training pattern — higher-order SQL lambdas are
    * interpreted, measured ~2× the round cost): ONE scan assigns rows to
    * their argmin centroid (first strict min in ascending cluster-id order
    * = smallest id on ties), then an elementwise `reduceByKey` sums members
    * per cluster, so k·(dim+2) longs cross the shuffle per round and the
    * collect returns k·dim longs — nothing scales with the corpus. Exact Long
    * adds are associative/commutative, so reduce order is immaterial and
    * the DuckDB replay is unaffected. Output: per-cluster size, min member
    * id, and total inertia under the final centroids. */
  def kmeans(embeddings: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val xs = gridDs(embeddings)
    val bc = spark.sparkContext.broadcast(lloydCentroids(xs, k, iters, "kmeans"))
    // final pass: per cluster (members, min member id, inertia)
    val out = xs.rdd
      .map { case (vid, x) =>
        val c = bc.value
        val best = nearest(c.ms, x)
        (c.ids(best), (1L, vid, sqDist(x, c.ms(best))))
      }
      .reduceByKey((p, q) => (p._1 + q._1, math.min(p._2, q._2), p._3 + q._3))
      .collect()
    bc.destroy()
    spark.createDataset(out.toSeq.sortBy(_._1)
        .map { case (cl, (n, minId, inertia)) => (cl, n, minId, inertia) })
      .toDF("cluster", "n_members", "min_vec_id", "inertia")
      .orderBy("cluster")
  }

  /** Cosine threshold for [[semanticDedup]] — shared with the DuckDB
    * oracle so the two cannot drift. 0.4 matches [[nearDupPairs]]'s default
    * (the exact baseline this approximates), which the uniform-random test
    * corpora actually exceed; semantic-dup thresholds on real embedding
    * spaces run far higher (SemDeDup uses ~0.99+ on normalized CLIP/OPT
    * embeddings). */
  val DefaultSemThreshold = 0.4

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"):
    * cluster the embedding space with the SAME deterministic integer-grid
    * Lloyd rounds as [[kmeans]], then compare pairs only WITHIN each
    * cluster — a vector is dropped iff some same-cluster vector with a
    * SMALLER id has cosine ≥ threshold (min id of every duplicate group
    * survives; deterministic, no random representative). Cross-cluster
    * near-dups are missed BY DESIGN — that is the approximation that turns
    * [[nearDupPairs]]'s O(n²) into Σ O(n_c²), and `k` is the knob: scale it
    * so n/k vectors (× 8·dim bytes) fit one task comfortably — the paper
    * runs k in the tens of thousands at web scale for exactly this bound.
    *
    * One typed pass fuses norm projection + grid quantization + cluster
    * assignment (no join to attach clusters), then `flatMapGroups` per
    * cluster runs the pairwise check with tight JIT'd dot loops and
    * early-exit on the first smaller similar neighbor. The dot is the same
    * left-to-right double fold as [[nearDupPairs]]/[[knnBruteForce]], so
    * the DuckDB oracle replays training, assignment AND the pair verdicts
    * bit-for-bit. Output: every vector with its cluster and survival flag. */
  def semanticDedup(embeddings: DataFrame, k: Int = 8, iters: Int = 3,
                    threshold: Double = DefaultSemThreshold): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(lloydCentroids(gridDs(embeddings), k, iters, "semanticDedup"))
    // NOT destroyed: the plan below is lazy and may re-execute this scan
    withNorm(embeddings)
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "v", "nv")
      .as[(Long, Array[Double], Double)]
      .map { case (vid, v, nv) =>
        val x = new Array[Long](v.length)
        var i = 0
        while (i < v.length) { x(i) = math.floor(v(i) * 1048576).toLong; i += 1 }
        (vid, bc.value.key(x), v, nv)
      }
      .groupByKey(_._2)
      .flatMapGroups { (cl, it) =>
        // one cluster per task — the operator's memory contract (see above)
        val m = it.toArray.sortBy(_._1)
        val kept = Array.fill(m.length)(true)
        var j = 1
        while (j < m.length) {
          val (_, _, vj, nj) = m(j)
          var i = 0
          var hit = false
          while (i < j && !hit) {
            val vi = m(i)._3
            var acc = 0.0
            var p = 0
            while (p < vj.length) { acc += vi(p) * vj(p); p += 1 }
            if (acc / (m(i)._4 * nj) >= threshold) hit = true
            i += 1
          }
          if (hit) kept(j) = false
          j += 1
        }
        m.indices.iterator.map(j => (m(j)._1, cl, kept(j)))
      }
      .toDF("vec_id", "cluster", "kept")
      .orderBy("vec_id")
  }

  /** PQ layout shared with the DuckDB oracle: subspace count, per-subspace
    * codebook size, and training rounds. 8×16 over dim 64 compresses each
    * vector to 8 code bytes — the memory story that lets an ANN index of
    * 10^12 vectors live in RAM (64 floats → m codes; FAISS's IVFPQ). */
  val PqSubspaces = 8
  val PqCodebook = 16
  val PqTrainRounds = 2

  /** PRODUCT-QUANTIZATION ANN (Jégou, Douze, Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search" — FAISS's PQ): split each
    * grid vector into `m` subspaces, Lloyd-train a `ks`-centroid codebook
    * per subspace, encode every vector as its m nearest-centroid codes,
    * and answer queries by ASYMMETRIC DISTANCE (ADC): the query precomputes
    * an m×ks table of exact subspace distances, and a candidate's
    * approximate distance is m table lookups — no vector ever touched at
    * query time. Everything runs on the shared 2^-20 integer grid with
    * smallest-id tie-breaks, so the DuckDB oracle replays training,
    * encoding, and every ADC ranking bit-for-bit.
    *
    * Scale shape: ONE scan per training round fits ALL m codebooks
    * (keyed (subspace, cluster) partial sums — m·ks·(dim/m+1) longs cross
    * the shuffle, nothing scales with the corpus); the driver holds
    * m·ks·dim/m longs of codebooks plus the nQueries·m·ks ADC tables; the
    * query pass is map-only against those broadcasts, and only top-k
    * candidates per query survive the ranking. Self-validating like
    * [[annRecall]]: the same pass computes the EXACT grid distance, and
    * each returned row carries whether it belongs to the exact top-k —
    * the PQ approximation error is visible in the output, never silent. */
  def annPq(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5,
            m: Int = PqSubspaces, ks: Int = PqCodebook,
            trainRounds: Int = PqTrainRounds): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val xs = gridDs(embeddings)
    val books = trainBooks(xs, m, ks, trainRounds, "annPq", identity)
    // ---- per-query ADC tables: exact subspace distance to every centroid
    val qs = xs.filter(_._1 < nQueries).collect().sortBy(_._1)
    val qtabs = qs.map { case (qid, qx) =>
      (qid, qx, Array.tabulate(m)(s => books(s).ms.map(sqDist(sub(qx, s, m), _))))
    }
    // ---- encode + ADC + exact distance in ONE map-only pass
    // NOT destroyed: the plan below is lazy and may re-execute this scan
    val bcB = spark.sparkContext.broadcast(books)
    val bcQ = spark.sparkContext.broadcast(qtabs)
    val scored = xs.rdd
      .flatMap { case (id, x) =>
        val bs = bcB.value
        val code = new Array[Int](m)
        var s = 0
        while (s < m) { code(s) = nearest(bs(s).ms, sub(x, s, m)); s += 1 }
        bcQ.value.iterator.filter(_._1 != id).map { case (qid, qx, tabs) =>
          var a = 0L
          var t = 0
          while (t < m) { a += tabs(t)(code(t)); t += 1 }
          (qid, id, a, sqDist(qx, x))
        }
      }
      .toDF("query_id", "neighbor_id", "adist", "edist")
    val byQ = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
    scored
      .withColumn("rank",
        row_number().over(byQ.orderBy(col("adist"), col("neighbor_id"))).cast("long"))
      .withColumn("erank",
        row_number().over(byQ.orderBy(col("edist"), col("neighbor_id"))))
      .where(s"rank <= $k")
      .selectExpr("query_id", "rank", "neighbor_id", "adist",
        s"erank <= $k AS in_exact_topk")
      .orderBy("query_id", "rank")
  }

  /** IVFPQ layout shared with the DuckDB oracle: coarse cell count, probe
    * width, and coarse training rounds (the PQ side reuses [[PqSubspaces]]/
    * [[PqCodebook]]/[[PqTrainRounds]]). 16 cells keeps every cell populated
    * on the 500-vector test corpora; production runs √n cells. */
  val IvfPqCells = 16
  val IvfPqProbe = 3
  val IvfPqCoarseRounds = 2

  /** Subvector `s` of `x` split into `m` equal subspaces. */
  private def sub(x: Array[Long], s: Int, m: Int): Array[Long] = {
    val d = x.length / m
    java.util.Arrays.copyOfRange(x, s * d, s * d + d)
  }

  /** PQ codebooks, shared by [[annPq]] and [[annIvfPq]]: seeds are the
    * first `ks` vectors' subvectors of `prep(x)`, then ONE scan per Lloyd
    * round updates all `m` books, keyed (subspace, seed id); a code that
    * loses every member dies. `prep` is the identity for flat PQ and the
    * residual against the nearest coarse cell for IVF-PQ. */
  private[ops] def trainBooks(xs: Dataset[(Long, Array[Long])], m: Int, ks: Int, rounds: Int,
                              op: String, prep: Array[Long] => Array[Long]): Array[Keyed] =
    lloyd(xs, rounds, s"$op: trainRounds", {
      val seeds = seedVecs(xs, ks, s"$op codebook")
      val dim = seeds.ms.head.length
      require(dim % m == 0, s"$op: dim $dim is not divisible into $m subspaces")
      val rs = seeds.ms.map(prep)
      Array.tabulate(m)(s => Keyed(seeds.ids, rs.map(sub(_, s, m))))
    })((bs: Array[Keyed], x) => {
      val r = prep(x)
      Iterator.tabulate(m) { s => val sv = sub(r, s, m); ((s, bs(s).key(sv)), sv) }
    })((bs, means) => Array.tabulate(m)(s => bs(s).survivors(id => means.get((s, id)))))

  /** IVF-PQ — the COMPOSED production index (Jégou et al. 2011 §IV;
    * FAISS's IVFPQ): [[annIvf]]'s coarse cells prune the search to
    * `nProbe` inverted lists, and [[annPq]]'s product quantizer encodes
    * each vector's RESIDUAL (x − its cell centroid) into m code bytes, so
    * the index holds one cell id + m bytes per vector — the shape that
    * keeps 10^12 vectors in RAM *and* sublinear to search, where flat PQ
    * still scans every code and flat IVF still stores full vectors.
    *
    * Everything runs on the 2^-20 integer grid with squared-L2 distances
    * (residual subtraction is exact in Long, unlike cosine residuals), so
    * coarse training, residual codebook training, encoding, probe choice
    * and every ADC ranking replay bit-for-bit in the DuckDB oracle. Ties
    * break toward the smaller cell / code / neighbor id everywhere.
    *
    * Scale shape: coarse training = [[annIvf]]'s (one scan + one
    * nCells·dim aggregation per round); codebook training = [[annPq]]'s
    * (ONE scan per round fits all m books, keyed (subspace, code) partial
    * sums) over residuals computed on the fly; the query pass is map-only
    * against driver-held broadcasts (books: m·ks·dim/m longs; per-query
    * ADC tables: nQueries·nProbe·m·ks longs) and emits ONLY candidates in
    * probed cells — ~nProbe/nCells of the corpus per query, never
    * all-pairs. Self-validating like [[annPq]]: a second scan computes the
    * exact grid top-k and every returned row carries its membership, so
    * both error sources (unprobed cells + PQ distortion) are visible. */
  def annIvfPq(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5,
               nCells: Int = IvfPqCells, nProbe: Int = IvfPqProbe,
               coarseRounds: Int = IvfPqCoarseRounds,
               m: Int = PqSubspaces, ks: Int = PqCodebook,
               trainRounds: Int = PqTrainRounds): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val xs = gridDs(embeddings)

    // ---- coarse cells: first-nCells id seeds, Lloyd rounds, dead cells
    // keep their previous centroid so cell INDICES stay stable (the
    // annIvf rule; index == seed vec_id)
    val coarse = ivfTrainCells(xs, seedVecs(xs, nCells, "annIvfPq cell").ms, coarseRounds,
      "annIvfPq: coarseRounds", "annIvfPq: coarse training round updated no cell — empty corpus")
    def residual(x: Array[Long], c: Array[Long]): Array[Long] = {
      val r = new Array[Long](x.length)
      var i = 0
      while (i < x.length) { r(i) = x(i) - c(i); i += 1 }
      r
    }
    // ---- residual codebooks: annPq's trainer over on-the-fly residuals
    // under the trained coarse quantizer.
    // NOT destroyed: every pass below (training, scoring, exact) reuses it
    val bcCoarse = spark.sparkContext.broadcast(coarse)
    val books = trainBooks(xs, m, ks, trainRounds, "annIvfPq", { x =>
      val cs = bcCoarse.value
      residual(x, cs(nearest(cs, x)))
    })

    // ---- per-query: nProbe nearest cells by (squared L2, cell idx), and
    // per probed cell the m×ks ADC table over the QUERY residual there
    val qs = xs.filter(_._1 < nQueries).collect().sortBy(_._1)
    val qinfo = qs.map { case (qid, qx) =>
      val byCell = coarse.indices
        .map(c => (sqDist(qx, coarse(c)), c)).sorted.take(nProbe)
      val probes = byCell.map(_._2).toArray
      val tabs: Map[Int, Array[Array[Long]]] = probes.map { c =>
        val qr = residual(qx, coarse(c))
        c -> Array.tabulate(m)(s => books(s).ms.map(sqDist(sub(qr, s, m), _)))
      }.toMap
      (qid, qx, probes, tabs)
    }

    // ---- map-only scoring: encode each row once, emit only (query,
    // probed-cell) hits. NOT destroyed: the plan below is lazy.
    val bcB = spark.sparkContext.broadcast(books)
    val bcQ = spark.sparkContext.broadcast(qinfo)
    val scored = xs.rdd
      .flatMap { case (id, x) =>
        val cs = bcCoarse.value
        val cell = nearest(cs, x)
        val r = residual(x, cs(cell))
        val bs = bcB.value
        val code = new Array[Int](m)
        var s = 0
        while (s < m) { code(s) = nearest(bs(s).ms, sub(r, s, m)); s += 1 }
        bcQ.value.iterator
          .filter { case (qid, _, probes, _) => qid != id && probes.contains(cell) }
          .map { case (qid, _, _, tabs) =>
            val t = tabs(cell)
            var a = 0L
            var i = 0
            while (i < m) { a += t(i)(code(i)); i += 1 }
            (qid, id, cell, a)
          }
      }
      .toDF("query_id", "neighbor_id", "cell", "adist")
    // exact grid top-k over the WHOLE corpus (second scan, validation
    // only): candidates outside probed cells are invisible to `scored`,
    // so the flag must not be derived from it
    val exact = xs.rdd
      .flatMap { case (id, x) =>
        bcQ.value.iterator.filter(_._1 != id).map { case (qid, qx, _, _) =>
          (qid, id, sqDist(qx, x))
        }
      }
      .toDF("query_id", "neighbor_id", "edist")
      .withColumn("er", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("edist"), col("neighbor_id"))))
      .where(s"er <= $k")
      .select("query_id", "neighbor_id")
      .withColumn("in_exact_topk", org.apache.spark.sql.functions.lit(true))
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))).cast("long"))
      .where(s"rank <= $k")
      .join(exact, Seq("query_id", "neighbor_id"), "left")
      .selectExpr("query_id", "rank", "neighbor_id", "cell", "adist",
        "coalesce(in_exact_topk, false) AS in_exact_topk")
      .orderBy("query_id", "rank")
  }

  val AnnPlanes = 8

  /** Max embedding dimensionality the literal hyperplane arrays cover. */
  private val MaxDim = 256

  /** Deterministic pseudo-random hyperplane component for (plane p, dim d):
    * md5-derived 32-bit uniform mapped into [-1, 1). Computed driver-side;
    * `Double.toString` round-trips exactly, so the literal the executor
    * parses is bit-identical to what any engine derives from the same
    * md5 formula (the DuckDB oracle recomputes it per element). */
  def planeComponent(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"plane-$p-$d".getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex, 16) / 2147483648.0 - 1.0
  }

  private lazy val planeArr: Array[Array[Double]] =
    Array.tabulate(AnnPlanes, MaxDim)(planeComponent)

  /** IVF (inverted-file) approximate nearest neighbors — the coarse-
    * quantizer scale path next to the hyperplane-LSH one:
    *
    *  1. coarse cells: seeded from the first `nCells` vectors by id, then
    *     TRAINED with `trainIters` Lloyd rounds on the same 2^-20 integer
    *     grid as [[kmeans]] (argmin squared distance, tie toward the
    *     smaller cell index, update `SUM DIV COUNT`; a cell that loses all
    *     members keeps its previous centroid so cell indices stay stable).
    *     Integer arithmetic end to end, then one exact `/2^20` back to
    *     DOUBLE — every round and the final centroids are bit-identical in
    *     any engine, which is what lets the DuckDB oracle replay the
    *     training and still hash-match. Training removes the "recall
    *     depends on the first nCells vectors being spread out" failure
    *     mode of raw id-seeded cells (r3 verdict #3);
    *  2. assignment: ONE JIT'd typed pass computes each row's argmax-cosine
    *     cell (and, for query rows, the probe list) against a k·dim-double
    *     centroid BROADCAST — no K× row blowup and no shuffle to assign,
    *     and the dot is the same left-to-right IEEE fold the SQL form (and
    *     the DuckDB oracle) computes, so results are bit-identical;
    *  3. probe: each query searches its `nProbe` nearest cells; candidates
    *     come from an equi-join on cell id (shuffle keyed by cell, never
    *     all-pairs), exact cosine rerank, top-k per query.
    *
    * Ties (cell assignment and probe ranking) break toward the smaller
    * cell id.
    *
    * IVF is the DEFAULT ANN path (annLsh is the didactic sign-LSH
    * baseline): at the default 32 cells / 3 probes / 2 training rounds it
    * reranks ~9% of the corpus per query and measures 83% (sf0.01) / 93%
    * (sf0.1) recall@5 on the UNIFORM-RANDOM test corpora — the measured
    * trade of training (probed): raw id-seeded cells score 88–99% there
    * at the SAME ~9% rerank, but collapse when the first nCells vectors
    * are clustered (AnnTrainSpec's adversarial corpus), which uniform data
    * never exhibits and real corpora do. nProbe=4 recovers ~3 points at
    * ~12% rerank. The oracle-checked `e_ann_recall` query keeps the
    * numbers honest; multi-probe sign-LSH is 31% at ~14%. At production
    * corpus sizes nCells scales like √n; the per-round training cost is
    * one scan + one k·dim-row aggregation, nothing scales with the corpus
    * on the driver. */
  def annIvf(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5,
             nCells: Int = 32, nProbe: Int = 3, trainIters: Int = 2,
             trainMod: Int = 1): DataFrame = {
    require(trainMod >= 1, "annIvf: trainMod must be >= 1")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val xs = gridDs(embeddings).toDF("vec_id", "x")
    val grid: Array[Array[Long]] = xs.where(s"vec_id < $nCells")
      .as[(Long, Array[Long])].collect().sortBy(_._1).map(_._2)
    require(grid.nonEmpty, s"annIvf: corpus has no vec_id < $nCells to seed cells")
    // trainMod > 1 trains on a deterministic 1/trainMod md5 hash-bucket
    // SAMPLE (the rule shared with stratifiedSample — isolation-decidable,
    // oracle-replayable): the 100 TB knob, where a full per-round scan is
    // waste and the sample is still ≥10^4 rows. It is deliberately NOT the
    // default — probed on the test corpora, sampling below ~64 training
    // points per cell craters recall (sf0.01: 500 vectors / 32 cells,
    // trainMod=4 → 83%→48%), so sample only when n/trainMod >> 64·nCells.
    val trainSet =
      if (trainMod == 1) xs
      else xs.where(s"${Shingles.h32("CAST(vec_id AS STRING)")} % $trainMod = 0")
    val trained = ivfTrainCells(trainSet.as[(Long, Array[Long])], grid, trainIters, "annIvf: trainIters",
      s"annIvf: training round updated no cell — the 1/$trainMod hash sample " +
        "is empty or degenerate; lower trainMod (need >> 64*nCells sampled rows)")
    ivfSearch(embeddings, trained, nQueries, k, nProbe)
      .orderBy("query_id", "rank")
  }

  /** INCREMENTAL IVF index maintenance — the daily-batch shape of
    * [[annIvf]] (FAISS `add()` after `train()`; the ANN twin of
    * [[graft.ops.Dedup.incrementalMinhash]]): the STANDING index is the
    * corpus slice outside the delta rule, its cells seeded from the first
    * `nCells` standing ids and Lloyd-trained on the STANDING slice only;
    * the delta batch (`vec_id % deltaMod = deltaMod−1`, the shared
    * isolation-decidable rule) then joins the index by FROZEN-centroid
    * assignment — one map-only pass per arriving batch, O(delta·nCells)
    * work, the centroids never retrained — and is immediately searchable:
    * queries probe the merged index, and every returned neighbor carries
    * `from_delta` so the gate pins that appended vectors actually surface.
    *
    * (This self-contained query recomputes the standing side's assignments
    * too; a production index stores them — the refresh cost is the delta
    * pass alone. The trade training defers is drift: a delta distribution
    * far from the training slice degrades recall until a retrain —
    * exactly why FAISS separates train() from add().) */
  def annIvfAppend(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5,
                   nCells: Int = 32, nProbe: Int = 3, trainIters: Int = 2,
                   deltaMod: Int = IvfAppendDeltaMod): DataFrame = {
    val trained = standingCents(embeddings, nCells, trainIters, deltaMod)
    ivfSearch(embeddings, trained, nQueries, k, nProbe)
      .withColumn("from_delta", expr(s"(neighbor_id % $deltaMod) = ${deltaMod - 1}"))
      .orderBy("query_id", "rank")
  }

  /** PERSISTED IVF index — the FAISS `write_index`/`read_index` shape that
    * makes [[annIvfAppend]]'s "incremental maintenance" real maintenance:
    * train ONCE on the standing slice, STORE the index (centroids table +
    * postings table, both [[graft.io.SnapshotStore]] snapshots), and every
    * later operation runs against the STORED artifact —
    *
    *   1. build: Lloyd-trained centroids → centroid table snapshot;
    *      standing vectors assigned to those cells → postings snapshot 1.
    *   2. incremental add: the delta batch is assigned using ONLY the
    *      centroids READ BACK from the store (nothing retrained, nothing
    *      recomputed from the standing slice) and APPENDED as postings
    *      snapshot 2 — the atomic-commit append, so a concurrent reader
    *      sees the index before or after the batch, never half of it.
    *   3. search: queries probe the store-read centroids and rerank over
    *      `readRange` across BOTH postings snapshots.
    *
    * Search output is bit-identical to [[annIvfAppend]] (same kernels,
    * same probe and tie rules; the centroid grid round-trips parquet
    * BIGINTs exactly), so the DuckDB oracle is shared — what this query
    * additionally proves is the store round trip: a lost posting, a
    * corrupted centroid, or an append that clobbered snapshot 1 surfaces
    * as a value diff.
    *
    * Scale shape: the index tables ARE tables — the centroid read-back is
    * nCells rows (bounded collect), postings never pass through the
    * driver, and the per-batch add cost is O(delta·nCells) exactly as the
    * in-flight variant. The query's store is scratch (self-contained
    * gate); a production pipeline passes a durable root and calls the
    * steps on its own schedule. */
  def annIvfPersisted(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5,
                      nCells: Int = 32, nProbe: Int = 3, trainIters: Int = 2,
                      deltaMod: Int = IvfAppendDeltaMod): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-index")
    try {
      val centStore = new graft.io.SnapshotStore(dir.resolve("centroids").toString)
      val postStore = new graft.io.SnapshotStore(dir.resolve("postings").toString)
      val deltaRule = s"(CAST(vec_id AS BIGINT) % $deltaMod) = ${deltaMod - 1}"
      // 1. BUILD: train on the standing slice, write the index
      val trained = standingCents(embeddings, nCells, trainIters, deltaMod)
      centStore.append(trained.zipWithIndex
        .map { case (m, c) => (c, m) }.toSeq.toDF("cell", "m"))
      postStore.append(
        assignWithProbes(embeddings.where(s"NOT ($deltaRule)"), trained, 0, nProbe)
          .select("vec_id", "v", "nv", "cell"))
      // 2. INCREMENTAL ADD: everything below uses ONLY the stored index
      val stored: Array[Array[Long]] =
        centStore.read(spark, centStore.latest.get)
          .select("cell", "m").as[(Int, Array[Long])]
          .collect().sortBy(_._1).map(_._2)
      require(stored.length == nCells,
        s"annIvfPersisted: stored index has ${stored.length} cells, expected $nCells")
      postStore.append(
        assignWithProbes(embeddings.where(deltaRule), stored, 0, nProbe)
          .select("vec_id", "v", "nv", "cell"))
      // 3. SEARCH across both stored snapshots
      val corpus = postStore.readRange(spark, 0L, postStore.latest.get)
      val queries =
        assignWithProbes(embeddings.where(s"CAST(vec_id AS BIGINT) < $nQueries"),
          stored, nQueries, nProbe)
          .selectExpr("vec_id AS query_id", "v AS qv", "nv AS nq",
            "explode(probes) AS cell")
      // materialize before the scratch store is deleted; the sort rides on
      // top of the checkpoint so the returned plan still guarantees it
      searchPostings(corpus, queries, k)
        .withColumn("from_delta", expr(s"(neighbor_id % $deltaMod) = ${deltaMod - 1}"))
        .localCheckpoint(true)
        .orderBy("query_id", "rank")
    } finally graft.io.SnapshotStore.deleteRecursively(dir)
  }

  /** [[annIvfAppend]]'s index health monitor — the "is a retrain due yet"
    * signal every frozen-centroid index needs: per cell, how many STANDING
    * vs DELTA vectors it holds and their mean squared grid distance to the
    * frozen centroid. A delta batch drawn from the training distribution
    * shows `delta_msd ≈ standing_msd`; a drifted batch inflates `delta_msd`
    * (and piles into few cells) long before recall visibly degrades —
    * exactly the deferred cost [[annIvfAppend]]'s no-retrain trade accepts.
    * Distances are measured in the trainer's own squared-L2 grid geometry
    * (the geometry the centroids were optimized in), one map-only pass +
    * one ≤nCells-row aggregation. Exactness contract: the per-cell Long
    * sums are exact while n_cell·max_sqdist < 2^63 (grid vectors from
    * [0,1)^64 bound max_sqdist ≤ 64·(2^20)² = 2^46, so ~131k vectors per
    * cell); beyond
    * that shard the sum by a vid-hash subkey — the metric is a diagnostic,
    * never a training artifact. */
  def annIvfDrift(embeddings: DataFrame, nCells: Int = 32, trainIters: Int = 2,
                  deltaMod: Int = IvfAppendDeltaMod): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val grid = standingCents(embeddings, nCells, trainIters, deltaMod)
    // NOT destroyed: the plan below is lazy and may re-execute this scan
    val bc = spark.sparkContext.broadcast(grid)
    gridDs(embeddings)
      .map { case (vid, x) =>
        val cs = bc.value
        val c = nearest(cs, x)
        (c, (vid % deltaMod) == (deltaMod - 1), sqDist(x, cs(c)))
      }
      .toDF("cell", "is_delta", "d")
      .groupBy("cell")
      .agg(
        sum(when(!col("is_delta"), 1L).otherwise(0L)).as("n_standing"),
        sum(when(col("is_delta"), 1L).otherwise(0L)).as("n_delta"),
        coalesce(sum(when(!col("is_delta"), col("d"))), lit(0L)).as("standing_sqdist_sum"),
        coalesce(sum(when(col("is_delta"), col("d"))), lit(0L)).as("delta_sqdist_sum"))
      .selectExpr("cell", "n_standing", "n_delta",
        "standing_sqdist_sum", "delta_sqdist_sum",
        "CASE WHEN n_standing > 0 THEN standing_sqdist_sum DIV n_standing END AS standing_msd",
        "CASE WHEN n_delta > 0 THEN delta_sqdist_sum DIV n_delta END AS delta_msd")
      .orderBy("cell")
  }

  /** Retrain decision factor for [[annIvfRetrain]] — a retrain is due iff
    * `delta_msd > RetrainMsdFactor · standing_msd` (both truncating-integer
    * means in the trainer's squared-L2 grid geometry). Shared with the
    * DuckDB oracle so the two cannot drift. */
  val RetrainMsdFactor = 2L

  /** Grid shift for [[annIvfRetrain]]'s deterministically DRIFTED twin
    * scenario: delta-slice grid vectors are shifted componentwise by
    * `x + 3·2^20` — an ADDITIVE move beyond any `floor(v·2^20)` training
    * cube built from unit-scale floats (|v| < 3 ⇒ |grid| < 3·2^20), so the
    * shifted batch sits far outside the standing cube REGARDLESS of where
    * that cube is centered. (The r4 `x DIV 64` compression failed exactly
    * here: on a zero-centered corpus it moved the delta CLOSER to an
    * origin-adjacent centroid and the rule never fired — drift that
    * improved the fit.) Integer addition is exact on both engines; the
    * per-pair squared distance after the shift is bounded by
    * dim·(shift + 2·maxgrid)² ≈ 2^51 at dim 64, so long sqdist sums stay
    * exact while the corpus holds under ~2^12 vectors per slice (beyond
    * it, shard the sum by a vid-hash subkey). Shared with the oracle. */
  val RetrainDriftShift = 3L << 20

  /** RETRAIN-TRIGGER ACTION LOOP — closes [[annIvfDrift]]'s monitor→decide
    * →act cycle (the loop a production frozen-centroid index runs on a
    * schedule; FAISS leaves the re-`train()` decision to the caller — this
    * is that caller): measure per-slice fit against the FROZEN standing-
    * trained cells, decide `retrain_due = delta_msd > factor·standing_msd`,
    * and when due WARM-START a Lloyd retrain — `trainIters` rounds over the
    * full corpus seeded from the frozen centroids (dead cells keep their
    * centroid, indices stay stable) — else pass the frozen index through
    * untouched.
    *
    * BOTH decision branches are driver-visible: the loop runs on two
    * deterministic scenarios of the same corpus — `in_dist` (the delta
    * batch as stored; drawn from the training distribution, the rule must
    * NOT fire and `result_msd = frozen_msd` bit-for-bit) and `drifted`
    * (delta grids shifted out of the cube by [[RetrainDriftShift]]; the
    * rule fires and the retrained index must repair the delta fit).
    * Output: one row per (scenario, slice) with the vector count,
    * frozen-index msd, the ACTIONED index's msd and the decision flag —
    * all exact integer arithmetic, so the DuckDB oracle replays the
    * monitor, the decision AND every warm-start round bit-for-bit.
    *
    * Scale shape: the monitor is one typed scan + a 2-row aggregation
    * (the bounded collect feeding the decision); a retrain round is the
    * same one-scan + k·(dim+1)-long shuffle as [[annIvf]]'s trainer —
    * nothing scales with the corpus on the driver. Long sums stay exact
    * while n · dim·(shift + 2·2^20)² < 2^63 (~2^12 vectors per slice at
    * dim 64 with the default shift; beyond it, shard the sum by a
    * vid-hash subkey — the undrifted slices keep the wider ~131k-vector
    * n·2^46 bound). */
  def annIvfRetrain(embeddings: DataFrame, nCells: Int = 32, trainIters: Int = 2,
                    deltaMod: Int = IvfAppendDeltaMod,
                    factor: Long = RetrainMsdFactor,
                    driftShift: Long = RetrainDriftShift): DataFrame = {
    require(factor >= 1, s"annIvfRetrain: factor must be >= 1, got $factor")
    require(driftShift >= 1, s"annIvfRetrain: driftShift must be >= 1, got $driftShift")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val frozen = standingCents(embeddings, nCells, trainIters, deltaMod)
    val base = gridDs(embeddings)
    // per-slice (n, Σ sqdist to the nearest cell): ONE typed scan against
    // the centroid broadcast + a 2-row aggregation, collected as the
    // decision input (bounded: two rows of two longs)
    def sliceStats(g: org.apache.spark.sql.Dataset[(Long, Array[Long])],
                   cents: Array[Array[Long]]): Map[Boolean, (Long, Long)] = {
      val bc = spark.sparkContext.broadcast(cents)
      val m = g.map { case (vid, x) =>
          val cs = bc.value
          ((vid % deltaMod) == (deltaMod - 1), sqDist(x, cs(nearest(cs, x))))
        }
        .toDF("is_delta", "d")
        .groupBy("is_delta")
        .agg(count(lit(1)).as("n"), sum("d").as("s"), max("d").as("mx"))
        .as[(Boolean, Long, Long, Long)].collect()
        .map { case (dl, n, s, mx) =>
          // post-hoc exactness proof for the Long sum (Spark sums wrap
          // silently; DuckDB's replay promotes to HUGEINT and stays exact):
          // every per-pair d ≤ mx is exact per row, so n·mx < 2^63 ⇒ the
          // sum could not have wrapped. The drifted shift costs ~2^51 per
          // pair at dim 64, so this binds at ~4k drifted vectors per slice
          // — beyond it, fail LOUDLY with the documented fix, never decide
          // retrain_due from a wrapped mean
          require(mx <= 0 || n <= Long.MaxValue / mx,
            s"annIvfRetrain: slice sqdist sum may exceed Long (n=$n, max_d=$mx)" +
              " — shard the sum by a vid-hash subkey before the mean")
          dl -> ((n, s))
        }.toMap
      bc.destroy()
      require(m.contains(true) && m.contains(false),
        "annIvfRetrain: corpus must contain both standing and delta vectors")
      m
    }
    // each scenario scans its projection up to 2 + trainIters times
    // (monitor, Lloyd rounds, re-measure) and the drifted scenario derives
    // from the base one — persist base across BOTH scenarios so neither
    // cache fill re-runs gridDs against the source, and the drifted map
    // additionally caches its own rows
    val basePersisted =
      base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = try Seq(false, true).flatMap { drift =>
      val g = if (!drift) basePersisted
        else basePersisted.map { case (vid, x) =>
          (vid, if ((vid % deltaMod) == (deltaMod - 1))
            x.map(Math.addExact(_, driftShift)) else x)
        }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val fs = sliceStats(g, frozen)
        val (nS, sS) = fs(false)
        val (nD, sD) = fs(true)
        // multiplyExact: a caller-supplied factor large enough to wrap
        // factor·standing_msd must fail loudly (the DuckDB oracle raises
        // a BIGINT out-of-range on the same input), never silently invert
        // the decision
        val due = sD / nD > Math.multiplyExact(factor, sS / nS)
        val rs = if (!due) fs
          else sliceStats(g, ivfTrainCells(g, frozen, trainIters,
            "annIvfRetrain: trainIters", "annIvfRetrain: retrain round updated no cell"))
        val scen = if (drift) "drifted" else "in_dist"
        Seq((scen, "standing", nS, sS / nS, rs(false)._2 / rs(false)._1, due),
            (scen, "delta", nD, sD / nD, rs(true)._2 / rs(true)._1, due))
      } finally if (drift) g.unpersist(blocking = false)
    } finally basePersisted.unpersist(blocking = false)
    rows.toDF("scenario", "slice", "n", "frozen_msd", "result_msd", "retrain_due")
      .orderBy("scenario", "slice")
  }

  /** STANDING-slice IVF cells for [[annIvfAppend]]/[[annIvfDrift]]: seeds =
    * the `nCells` smallest standing ids (dense cell index = seed rank),
    * Lloyd rounds over the standing slice only. */
  private def standingCents(embeddings: DataFrame, nCells: Int, trainIters: Int,
                            deltaMod: Int): Array[Array[Long]] = {
    require(deltaMod >= 2, "annIvfAppend: deltaMod must be >= 2")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val xs = gridDs(embeddings).toDF("vec_id", "x")
    val standing = xs.where(s"NOT ((vec_id % $deltaMod) = ${deltaMod - 1})")
      .as[(Long, Array[Long])]
    val seed = standing.orderBy("vec_id").limit(nCells)
      .collect().sortBy(_._1).map(_._2)
    require(seed.length == nCells,
      s"annIvfAppend: standing slice has ${seed.length} < $nCells vectors to seed cells")
    ivfTrainCells(standing, seed, trainIters, "annIvfAppend: trainIters",
      "annIvfAppend: training round updated no cell — empty standing slice")
  }

  /** Delta-slice modulus for [[annIvfAppend]] — shared with the DuckDB
    * oracle so the two cannot drift. */
  val IvfAppendDeltaMod = 4

  /** [[lloyd]] rounds for IVF cells over `train`, from the index-keyed
    * `seed` grid (cell key = index, ties toward the smaller index); a cell
    * that loses every member KEEPS its previous centroid so cell indices
    * stay stable. Shared by [[annIvf]], [[annIvfAppend]], [[annIvfRetrain]]
    * and [[annIvfPq]]'s coarse quantizer. */
  private[ops] def ivfTrainCells(train: Dataset[(Long, Array[Long])], seed: Array[Array[Long]],
                                 iters: Int, param: String, emptyMsg: String): Array[Array[Long]] =
    lloyd(train, iters, param, seed)(
      (g: Array[Array[Long]], x) => Iterator.single((nearest(g, x), x))) { (g, means) =>
      // loud, not silent: a degenerate training set would leave every
      // centroid at its raw seed — the fragile-seed failure mode training
      // exists to remove
      require(means.nonEmpty, emptyMsg)
      g.indices.map(i => means.getOrElse(i, g(i))).toArray
    }

  /** Frozen-centroid IVF search over the full corpus: one typed assignment
    * pass, the cell equi-join, exact cosine rerank, top-k per query.
    * Returns ranked rows WITHOUT a final sort (callers append their
    * columns, then order). */
  private def ivfSearch(embeddings: DataFrame, grid: Array[Array[Long]],
                        nQueries: Int, k: Int, nProbe: Int): DataFrame = {
    val assigned = assignWithProbes(embeddings, grid, nQueries, nProbe)
    val corpus = assigned.select("vec_id", "v", "nv", "cell")
    val queries = assigned.where(s"vec_id < $nQueries")
      .selectExpr("vec_id AS query_id", "v AS qv", "nv AS nq", "explode(probes) AS cell")
    searchPostings(corpus, queries, k)
  }

  /** Cell assignment (+ query probes) as ONE JIT'd typed pass against a
    * centroid broadcast — the shared kernel behind [[ivfSearch]] and the
    * persisted-index flow, factored so the bit-exactness contract lives in
    * exactly one place. Returns (vec_id, v, nv, cell, probes), probes null
    * for `vec_id >= nQueries` (pass 0 for an assignment-only pass). */
  private def assignWithProbes(embeddings: DataFrame, grid: Array[Array[Long]],
                               nQueries: Int, nProbe: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // /2^20 is a power-of-two division: exact in DOUBLE, so what the
    // executors receive equals what any engine derives from the same rounds
    val cents: Array[Array[Double]] = grid.map(_.map(_ / 1048576.0))
    val cnorms: Array[Double] = cents.map(cv => math.sqrt(cv.map(x => x * x).sum))
    // cell assignment + query probes as ONE JIT'd typed pass against a
    // broadcast of the centroids (the kmeans/semanticDedup pattern — the
    // former inlined-literal SQL form evaluated nCells INTERPRETED
    // aggregate(zip_with(...)) dot products per row, measured ~4× this
    // kernel's cost, and its 2^18-literal expression-size cap is gone).
    // Bit-exactness is preserved: the dot is the same left-to-right IEEE
    // fold with zero seed, cell is the FIRST maximum (strict >, with
    // Double.compare so a hypothetical NaN still sorts greatest like
    // Spark's array_max), probes are (sim DESC, cell ASC) selection — so
    // the DuckDB oracle replays unchanged.
    // NOT destroyed: the plan below is lazy and may re-execute this scan.
    val bcC = spark.sparkContext.broadcast((cents, cnorms))
    withNorm(embeddings)
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "v", "nv")
      .as[(Long, Array[Double], Double)]
      .map { case (vid, v, nv) =>
        val (cs, ns) = bcC.value
        val sims = new Array[Double](cs.length)
        var best = 0
        var c = 0
        while (c < cs.length) {
          val m = cs(c)
          var acc = 0.0
          var i = 0
          while (i < m.length) { acc += m(i) * v(i); i += 1 }
          sims(c) = acc / (nv * ns(c))
          if (java.lang.Double.compare(sims(c), sims(best)) > 0) best = c
          c += 1
        }
        val probes =
          if (vid >= nQueries) null
          else {
            // nProbe nearest cells by (sim DESC, cell ASC): repeated
            // selection of the best unchosen index — nProbe·nCells compares
            val out = new Array[Int](math.min(nProbe, cs.length))
            val taken = new Array[Boolean](cs.length)
            var p = 0
            while (p < out.length) {
              var sel = -1
              var j = 0
              while (j < cs.length) {
                if (!taken(j) &&
                    (sel < 0 || java.lang.Double.compare(sims(j), sims(sel)) > 0)) sel = j
                j += 1
              }
              taken(sel) = true
              out(p) = sel
              p += 1
            }
            out
          }
        (vid, v, nv, best, probes)
      }
      .toDF("vec_id", "v", "nv", "cell", "probes")
  }

  /** Probed-cell exact rerank: the IVF search join shared by [[ivfSearch]]
    * and the persisted-index flow — `corpus` is the (stored or in-flight)
    * postings relation (vec_id, v, nv, cell), `queries` one row per
    * (query, probed cell). Bucket equi-join, exact cosine, top-k by
    * (sim DESC, neighbor ASC). */
  private def searchPostings(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    corpus
      .join(queries, Seq("cell"))
      .where("vec_id != query_id")
      .selectExpr("query_id", "cell", "vec_id AS neighbor_id",
        s"${dotExpr("qv", "v")} / (nq * nv) AS sim")
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id")
          .orderBy(col("sim").desc, col("neighbor_id"))).cast("long"))
      .where(s"rank <= $k")
      .select("query_id", "rank", "neighbor_id", "cell", "sim")

  /** Probe masks for multi-probe LSH: the zero mask plus every 1- and 2-bit
    * flip of the sign word — 1 + P + P(P−1)/2 masks (37 of 256 for 8
    * planes). A true neighbor that disagrees with the query on ≤2 plane
    * signs is still found. */
  lazy val probeMasks: IndexedSeq[Int] =
    0 +: (0 until AnnPlanes).map(1 << _) ++:
      (for { p <- 0 until AnnPlanes; q <- p + 1 until AnnPlanes } yield (1 << p) | (1 << q))

  /** LSH-bucketed approximate nearest neighbors: bucket by hyperplane sign
    * bits, MULTI-PROBE on the query side (the query's bucket plus every
    * bucket within Hamming distance 2 of it — see [[probeMasks]]), exact
    * cosine rerank over the probed candidates, top-k per query. Probing 37
    * of the 2^8 buckets keeps the search sublinear (a bucket equi-join,
    * never all-pairs; ~14% of the corpus reranked per query) while lifting
    * measured recall@5 from 2% single-probe to 31% (the `e_ann_recall`
    * query keeps the number honest; [[annIvf]] measures 88%+ at ~9% and is the
    * higher-recall path).
    * Same output schema as [[knnBruteForce]] (plus the neighbor's bucket
    * id) so recall is directly measurable. */
  def annLsh(embeddings: DataFrame, nQueries: Int = 20, k: Int = 5): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // sign-bit bucket key as ONE JIT'd typed pass against the hyperplane
    // broadcast (the annIvf assignment pattern — the former inlined-literal
    // SQL form ran AnnPlanes interpreted aggregate(zip_with(...)) dots per
    // row): same left-to-right IEEE fold and primitive `>= 0` sign rule,
    // so the DuckDB oracle replays unchanged. Embeddings wider than the
    // precomputed hyperplanes still fail loudly (a padded dot would
    // silently collapse every row into bucket 0 — ANN degenerating to
    // all-pairs). NOT destroyed: the plan below is lazy.
    val bcP = spark.sparkContext.broadcast(planeArr)
    val base = withNorm(embeddings)
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "v", "nv")
      .as[(Long, Array[Double], Double)]
      .map { case (vid, v, nv) =>
        val ps = bcP.value
        require(v.length <= MaxDim,
          s"annLsh: embedding dimension ${v.length} exceeds the $MaxDim-dim precomputed hyperplanes")
        var bucket = 0L
        var p = 0
        while (p < ps.length) {
          val w = ps(p)
          var acc = 0.0
          var i = 0
          while (i < v.length) { acc += v(i) * w(i); i += 1 }
          if (acc >= 0) bucket |= 1L << p
          p += 1
        }
        (vid, v, nv, bucket)
      }
      .toDF("vec_id", "v", "nv", "bucket")
    val probeList = probeMasks.map(m => s"CAST(bucket ^ $m AS BIGINT)")
      .mkString("array(", ",", ")")
    val queries = base.where(s"vec_id < $nQueries")
      .selectExpr("vec_id AS query_id", "v AS qv", "nv AS nq",
        s"explode($probeList) AS bucket")
    base
      .join(queries, Seq("bucket"))
      .where("vec_id != query_id")
      .selectExpr("query_id", "bucket", "vec_id AS neighbor_id",
        s"${dotExpr("qv", "v")} / (nq * nv) AS sim")
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("query_id")
          .orderBy(col("sim").desc, col("neighbor_id"))).cast("long"))
      .where(s"rank <= $k")
      .select("query_id", "rank", "neighbor_id", "bucket", "sim")
      .orderBy("query_id", "rank")
  }
}
