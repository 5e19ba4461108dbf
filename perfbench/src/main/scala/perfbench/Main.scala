package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, FutureTask}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.SubmitMain
import graft.io.SnapshotStore
import graft.pipeline.{PartitionStatsAcc, Pipeline}
import graft.schema.{ConvRule, ConvSegment, PartitionLineage, Turn}

/** Benchmark of the production job, `SubmitMain`'s body: `Pipeline.segmentAuto`
  * → `SnapshotStore.append` of the segments → `Pipeline.lineageFromStats` →
  * append of the lineage → `rowCount`, over parquet inputs generated from the
  * seed. One JVM, Spark at local[N] (N = available cores) and local[1].
  *
  * Untraced (`--trace 0`): end-to-end metrics from `SubmitMain.main` calls.
  * Traced (`--trace 1`): the same job composed from the library's public
  * functions with a span around each call, plus a ladder of single-layer
  * probes; prints per-layer metrics.
  *
  * Every timed job passes a correctness gate against a no-Spark reference.
  * Prints one JSON line on stdout; a human report and the raw record go to
  * stderr and to `--records`. Exit 1 when any job failed.
  */
object Main {
  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, records: Path, tiny: Boolean, corruptReference: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("records")).toAbsolutePath,
      kv.get("scale").contains("tiny"), kv.get("corrupt-reference").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val ok = new Bench(parse(argv)).run()
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }
}

final class Bench(a: Main.Args) {
  import Bench._

  private val cores = Runtime.getRuntime.availableProcessors
  private val shape = Shape(a.workload, a.tiny)
  private val corpus = new Corpus(shape, a.seed)
  private val warm = new Corpus(shape.copy(convs = shape.warmConvs, deltas = 1), a.seed ^ 0x5eedL)
  private val runId = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
  private val tracer = new Tracer(a.trace, runId)
  private val listener = new LayerListener
  private val log = System.err

  // Untraced runs compute the reference on all cores while the first session
  // starts and writes the inputs; traced runs compute it alone, on one thread,
  // for the kernel timings.
  private val reference = new FutureTask(new Callable[(Array[UnitRef], KernelTimes)] {
    def call() = tracer.span("reference") {
      Reference.compute(corpus, if (a.trace) 1 else cores, tracer)
    }
  })
  private lazy val refResult = reference.get()

  private def deltaDir(k: Int): Path = a.work.resolve("input").resolve(s"delta-$k")

  private lazy val deltas: Seq[Delta] = {
    val ds = (0 until shape.deltas).map { k =>
      val (lo, hi) = corpus.deltaUnits(k)
      val r = refResult._1.slice(lo, hi).foldLeft(UnitRef(0, 0, 0, 0, 0L, 0, 0))(plus)
      Delta(k, deltaDir(k), if (a.corruptReference && k == 0) r.copy(digest = r.digest + 1) else r)
    }
    log.println(s"[perfbench] $runId: ${corpus.units} conversations, " +
      s"${ds.map(_.ref.turns.toLong).sum} turns, ${shape.deltas} delta(s), $cores cores")
    ds
  }
  private lazy val totalTurns = deltas.map(_.ref.turns.toLong).sum

  // the raw record: every sample of every timed job, keyed by local[level]
  private val setups = mutable.Map.empty[Int, ArrayBuffer[Double]]
  private val passTps = mutable.Map.empty[Int, ArrayBuffer[Double]]
  private val deltaS = mutable.Map.empty[Int, ArrayBuffer[Double]]
  private val readS = mutable.Map.empty[Int, ArrayBuffer[Double]]
  // job wall times of the traced run's alternating untraced and traced passes
  private val untracedS = ArrayBuffer.empty[Double]
  private val tracedS = ArrayBuffer.empty[Double]
  private val tracedPasses = ArrayBuffer.empty[(Int, Double)] // (span id, gc seconds)
  private val ladders = ArrayBuffer.empty[Map[String, Double]]
  private var attempted = 0
  private var failed = 0
  private var linTurns = 0L
  private var linErrors = 0L
  private var storeSeq = 0

  private def sample(m: mutable.Map[Int, ArrayBuffer[Double]], level: Int) =
    m.getOrElseUpdate(level, ArrayBuffer.empty)

  def run(): Boolean = {
    if (a.trace) reference.run()
    else {
      val t = new Thread(reference, "perfbench-reference")
      t.setDaemon(true)
      t.start()
    }

    // loop(share) repeats its body for that share of the --seconds window
    val window = a.seconds.toDouble
    def loop(share: Double)(body: => Double): Unit = {
      val end = now + share * window
      var last = 0.0
      while (last == 0.0 || now + last / 2 < end) last = body
    }
    def timedPasses(spark: SparkSession, level: Int, share: Double): Unit = {
      var j = 0
      loop(share) {
        // local[N] passes run every delta; a local[1] pass runs one delta job
        val ds = if (level == cores) deltas else Seq(deltas(j % deltas.size))
        j += 1
        pass(spark, level, ds, traced = false, record = true).sum
      }
    }
    if (a.trace) {
      withSession(cores, first = true) { spark =>
        loop(0.15)(pass(spark, cores, deltas, traced = false, record = false).sum)
        // pairs alternate which side runs first, so warm-up drift cancels
        var tracedFirst = false
        loop(0.5) {
          def untraced() = pass(spark, cores, deltas, traced = false, record = true)
          def traced() = pass(spark, cores, deltas, traced = true, record = false)
          val (u, t) =
            if (tracedFirst) { val t = traced(); (untraced(), t) }
            else { val u = untraced(); (u, traced()) }
          tracedFirst = !tracedFirst
          untracedS ++= u
          tracedS ++= t
          u.sum + t.sum
        }
        loop(0.2) {
          val (l, dt) = timed(ladder(spark, deltas(ladders.size % deltas.size), refResult._2))
          ladders += l
          dt
        }
      }
      // the scaling pair is a traced-run diagnostic: across seeds it does not
      // repeat within a tenth on a shared 4-core box
      if (cores >= 4) withSession(1, first = false)(spark => timedPasses(spark, 1, 0.15))
    } else {
      // Throughput still climbs for about eight seconds after the first job
      // (JIT compilation of Spark's and the library's hot paths), so a third
      // of the window runs untimed passes; the timed passes all run in the
      // same session after it. Three more sessions give set-up samples, the
      // first session's being the JVM's cold start.
      withSession(cores, first = true) { spark =>
        loop(0.35)(pass(spark, cores, deltas, traced = false, record = false).sum)
        timedPasses(spark, cores, 0.65)
      }
      (1 until 4).foreach(_ => withSession(cores, first = false)(_ => ()))
    }

    progress("measured")
    val metrics = if (a.trace) layerMetrics(refResult._1, refResult._2) else endToEnd()
    val correct = failed == 0
    report(metrics, correct)
    val body = metrics.map { case (k, v, u, _) =>
      val value = v.fold("null")(Json.num)
      val reason = if (v.isEmpty) s""","reason":${Json.str(nullReason)}""" else ""
      s"${Json.str(k)}:{\"value\":$value,\"unit\":${Json.str(u)}$reason}"
    }.mkString(",")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
    correct
  }

  private def plus(x: UnitRef, y: UnitRef) = UnitRef(x.turns + y.turns, x.planted + y.planted,
    x.errors + y.errors, x.segments + y.segments, x.digest + y.digest, x.rules + y.rules,
    x.found + y.found)

  private def now: Double = System.nanoTime() / 1e9
  private val started = now
  private def progress(what: String): Unit = log.println(f"[perfbench] +${now - started}%.1f s $what")

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // ---------------------------------------------------------------- sessions

  /** One Spark session at local[level]. Set-up = session creation plus the
    * production job on the small warm-up corpus; input generation (first
    * session only) is excluded from it. */
  private def withSession(level: Int, first: Boolean)(body: SparkSession => Unit): Unit = {
    val (spark, createS) = timed {
      SparkSession.builder()
        .master(s"local[$level]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        // the same job at both levels of the scaling pair: shuffle width is
        // tied to the box (as in graft.bench.Scaling), not to local[level]
        .config("spark.sql.shuffle.partitions", (8 * cores).toString)
        .config("spark.local.dir", a.work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
        .getOrCreate()
    }
    progress(s"session local[$level] created in ${createS}s")
    try {
      if (first) { writeInputs(spark); progress("inputs written") }
      val warmStore = freshStore()
      val (_, warmS) = timed(submitJob(a.work.resolve("input").resolve("warm"), warmStore))
      sample(setups, level) += createS + warmS
      deleteTree(warmStore)
      progress(s"warm-up job ${warmS}s")
      if (a.trace) {
        spark.sparkContext.addSparkListener(listener)
        tracer.sc = Some(spark.sparkContext)
      }
      body(spark)
      if (a.trace) {
        BusDrain(spark.sparkContext)
        attachListenerCounters()
      }
    } finally {
      tracer.sc = None
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  private def writeInputs(spark: SparkSession): Unit = {
    import spark.implicits._
    def write(c: Corpus, lo: Int, hi: Int, dir: Path): Unit = {
      spark.range(lo.toLong, hi.toLong, 1L, cores).flatMap(u => c.turns(u))
        .write.parquet(dir.resolve("turns").toString)
      spark.range(lo.toLong, hi.toLong, 1L, cores).flatMap(u => c.rules(u))
        .write.parquet(dir.resolve("rules").toString)
    }
    (0 until shape.deltas).foreach { k =>
      val (lo, hi) = corpus.deltaUnits(k)
      write(corpus, lo, hi, deltaDir(k))
    }
    write(warm, 0, warm.units, a.work.resolve("input").resolve("warm"))
  }

  private def freshStore(): Path = {
    storeSeq += 1
    a.work.resolve("stores").resolve(s"s$storeSeq")
  }

  // ------------------------------------------------------------------ the job

  private val SubmitLine =
    """"segments_snapshot":(\d+),"lineage_snapshot":(\d+),"segments":(\d+)""".r.unanchored

  /** The production entry point, unchanged: `SubmitMain.main`. */
  private def submitJob(input: Path, store: Path): (Long, Long, Long) = {
    val out = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(out, true, "UTF-8")) {
      SubmitMain.main(Array(
        "--turns", input.resolve("turns").toString,
        "--rules", input.resolve("rules").toString,
        "--out", store.toString))
    }
    out.toString("UTF-8") match {
      case SubmitLine(s, l, n) => (s.toLong, l.toLong, n.toLong)
      case other => throw new IllegalStateException(s"unexpected SubmitMain output: $other")
    }
  }

  /** `SubmitMain`'s default route, one span around each library call. */
  private def tracedJob(spark: SparkSession, d: Delta, store: Path): (Long, Long, Long) =
    tracer.span("job") {
      import spark.implicits._
      val turns = spark.read.schema(TurnSchema).parquet(d.turns).as[Turn]
      val rules = spark.read.schema(RuleSchema).parquet(d.rules).as[ConvRule]
      val stats = new PartitionStatsAcc
      spark.sparkContext.register(stats, "graft.partition_lineage")
      val st = new SnapshotStore(store.toString)
      val segs = tracer.span("pipeline.segmentAuto") {
        Pipeline.segmentAuto(turns, rules, 0, 1000000L, Some(stats), 256L << 20)
      }
      val segSnap = tracer.span("io.append.segments") {
        st.append(segs.toDF(), Map("table" -> "segments"))
      }
      val lineage = tracer.span("pipeline.lineageFromStats") {
        Pipeline.lineageFromStats(spark, "segment", stats.value, snapshotId = segSnap)
      }
      val linSnap = tracer.span("io.append.lineage") {
        st.append(lineage.toDF(),
          Map("table" -> "lineage", "segments_snapshot" -> segSnap.toString))
      }
      val n = tracer.span("io.rowCount") {
        st.rowCount(segSnap).getOrElse(st.read(spark, segSnap).count())
      }
      (segSnap, linSnap, n)
    }

  /** Committed rows against the reference; returns the lineage row count. */
  private def gate(spark: SparkSession, d: Delta, store: Path, ids: (Long, Long, Long)): Option[Long] = {
    import spark.implicits._
    val (segSnap, linSnap, n) = ids
    val st = new SnapshotStore(store.toString)
    val segs = st.read(spark, segSnap).as[ConvSegment].collect()
    val lin = st.read(spark, linSnap).as[PartitionLineage].collect()
    val rowsIn = lin.map(_.rows_in).sum
    val errors = lin.map(_.errors).sum
    linTurns += rowsIn
    linErrors += errors
    val problems = Seq(
      (n == d.ref.segments) -> s"rowCount $n != reference ${d.ref.segments}",
      (segs.length == d.ref.segments) -> s"committed ${segs.length} rows != reference ${d.ref.segments}",
      (Reference.digest(segs) == d.ref.digest) -> "segment digest differs from the reference",
      (rowsIn == d.ref.turns) -> s"lineage rows_in $rowsIn != input turns ${d.ref.turns}",
      (errors == d.ref.planted) -> s"lineage errors $errors != planted corruptions ${d.ref.planted}",
      (d.ref.errors == d.ref.planted) -> s"reference errors ${d.ref.errors} != planted ${d.ref.planted}"
    ).collect { case (false, msg) => msg }
    problems.foreach(p => log.println(s"[perfbench] GATE FAILED delta ${d.k}: $p"))
    if (problems.isEmpty) Some(lin.length.toLong) else None
  }

  private def countJob(ok: Boolean): Unit = {
    attempted += 1
    if (!ok) failed += 1
  }

  /** Delta jobs `ds`, in order, into a fresh store, then a full-table read.
    * Returns the jobs' wall times. */
  private def pass(spark: SparkSession, level: Int, ds: Seq[Delta], traced: Boolean,
                   record: Boolean): Seq[Double] = {
    val store = freshStore()
    val gc0 = gcSeconds
    def body(): Seq[Double] = {
      var linRows = 0L
      val times = ds.map { d =>
        val t0 = System.nanoTime()
        val res = Try(if (traced) tracedJob(spark, d, store) else submitJob(d.dir, store))
        val dt = (System.nanoTime() - t0) / 1e9
        val gated = res.flatMap { ids =>
          Try(if (traced) tracer.span("gate")(gate(spark, d, store, ids)) else gate(spark, d, store, ids))
        } match {
          case Success(g) => g
          case Failure(e) =>
            log.println(s"[perfbench] JOB FAILED delta ${d.k}: $e")
            None
        }
        countJob(gated.isDefined)
        linRows += gated.getOrElse(0L)
        dt
      }
      // a full-table read lasts about 0.1 s, so each pass reads several times
      val st = new SnapshotStore(store.toString)
      def read() = Try(st.readRange(spark, 0L, st.latest.get).count())
      val expected = ds.map(_.ref.segments.toLong).sum + linRows
      val reads = (1 to ReadsPerPass).map { _ =>
        val (rows, rs) = this.timed(if (traced) tracer.span("io.readRange")(read()) else read())
        val readOk = rows.toOption.contains(expected)
        if (!readOk) log.println(s"[perfbench] GATE FAILED read: $rows != $expected rows")
        countJob(readOk)
        rs
      }
      if (record) {
        sample(deltaS, level) ++= times
        sample(readS, level) ++= reads
        sample(passTps, level) += ds.map(_.ref.turns).sum / times.sum
      }
      times
    }
    val total = if (traced) {
      var id = 0
      val t = tracer.span("pass") { id = tracer.spans.last.id; body() }
      tracedPasses += ((id, gcSeconds - gc0))
      t
    } else body()
    deleteTree(store)
    total
  }

  // ------------------------------------------------------------------ ladder

  /** Single-layer probes over one delta job's input. The no-Spark kernel
    * times enter the residual pro rata to the delta's share of the turns. */
  private def ladder(spark: SparkSession, d: Delta, k: KernelTimes): Map[String, Double] =
    tracer.span("ladder") {
      import spark.implicits._
      val store = freshStore()
      val st = new SnapshotStore(store.toString)
      val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val acc = mutable.Map.empty[String, Double]
      def probe(name: String)(body: => Unit): Unit = acc(name) = timed(tracer.span(name)(body))._2
      def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      val raw = spark.read.schema(TurnSchema).parquet(d.turns)
      val four = raw.select("conv_id", "turn_idx", "tool", "text")
      val turns = raw.as[Turn]
      val rules = spark.read.schema(RuleSchema).parquet(d.rules).as[ConvRule]
      probe("pipeline.scan")(noop(four))
      probe("pipeline.exchange")(
        noop(four.repartition(parts, $"conv_id").sortWithinPartitions("conv_id", "turn_idx")))
      val bc = spark.sparkContext.broadcast(rules.collect().groupBy(_.conv_id)
        .map { case (c, rs) => c -> rs.toSeq.map(Pipeline.toCoreRule) })
      probe("pipeline.route")(noop(Pipeline.segmentFused(turns, bc).toDF()))
      bc.destroy()
      probe("pipeline.auto")(noop(Pipeline.segmentAuto(turns, rules).toDF()))
      val stats = new PartitionStatsAcc
      spark.sparkContext.register(stats, "graft.partition_lineage")
      val segs = Pipeline.segmentAuto(turns, rules, stats = Some(stats)).toDF()
        .persist(StorageLevel.MEMORY_ONLY)
      segs.count()
      probe("io.commit") {
        val segSnap = st.append(segs, Map("table" -> "segments"))
        st.append(Pipeline.lineageFromStats(spark, "segment", stats.value, segSnap).toDF(),
          Map("table" -> "lineage", "segments_snapshot" -> segSnap.toString))
        st.rowCount(segSnap).getOrElse(st.read(spark, segSnap).count())
      }
      segs.unpersist(blocking = true)
      probe("io.read")(st.readRange(spark, 0L, st.latest.get).count())
      val files = walk(store.resolve("data"))
      acc("io.files") = files.count(_.getFileName.toString.endsWith(".parquet")).toDouble
      acc("io.write_mb") = files.map(Files.size(_)).sum / 1e6
      acc("io.manifests") = walk(store.resolve("_manifests"))
        .count(_.getFileName.toString.endsWith(".json")).toDouble
      deleteTree(store)
      val share = d.ref.turns.toDouble / totalTurns
      acc("pipeline.rules") = acc("pipeline.auto") - acc("pipeline.route")
      acc("pipeline.residual") = acc("pipeline.route") - acc("pipeline.exchange") -
        (k.extractNs + k.foldNs) / 1e9 * share / cores
      acc("kernels") = (k.extractNs + k.foldNs) / 1e9 * share
      acc.toMap
    }

  // ----------------------------------------------------------------- metrics

  /** (name, value, unit, note); a `None` value is printed as null. */
  private type Metric = (String, Option[Double], String, String)
  private var nullReason = ""

  private def endToEnd(): Seq[Metric] = {
    val tps = passTps(cores).toSeq
    val ds = deltaS(cores).toSeq
    val (tail, pct) = Stats.tail(ds)
    Seq(
      ("setup_s", Some(Stats.median(setups(cores).toSeq)), "s", quart(setups(cores).toSeq)),
      ("turns_per_s", Some(Stats.median(tps)), "turns/s", quart(tps)),
      ("delta_s", Some(Stats.median(ds)), "s", quart(ds)),
      ("delta_s_tail", Some(tail), "s", f"p$pct%.1f of n=${ds.size} delta jobs"),
      ("read_s", Some(Stats.median(readS(cores).toSeq)), "s", quart(readS(cores).toSeq)),
      ("peak_rss_mb", Some(peakRssMb), "MB", "VmHWM of the benchmark process"),
      ("turn_error_frac", Some(linErrors.toDouble / linTurns), "ratio",
        s"$linErrors quarantined of $linTurns input turns (lineage)"))
  }

  private def quart(xs: Seq[Double]): String = {
    val (q1, q2, q3) = Stats.quartiles(xs)
    f"median $q2%.4f, quartiles [$q1%.4f, $q3%.4f], n=${xs.size}"
  }

  /** The scaling pair, or None with [[nullReason]] on fewer than 4 cores. */
  private def scaling: (Option[Double], Option[Double]) =
    passTps.get(1).filter(_ => cores >= 4).map(_.toSeq) match {
      case Some(t1) =>
        val m1 = Stats.median(t1)
        (Some(m1), Some(Stats.median(passTps(cores).toSeq) / (cores * m1)))
      case None =>
        nullReason =
          s"only $cores cores: a local[1]/local[$cores] pair on fewer than 4 cores is not reported"
        (None, None)
    }

  private def layerMetrics(refs: Array[UnitRef], k: KernelTimes): Seq[Metric] = {
    val lad = ladders.flatMap(_.keys).distinct.map(key => key -> Stats.median(ladders.map(_(key)).toSeq)).toMap
    val extractS = k.extractNs / 1e9
    val foldS = k.foldNs / 1e9
    val rules = refs.map(_.rules.toLong).sum
    def perTurnUs(i: Int) = if (k.toolTurns(i) == 0) 0.0 else k.toolNs(i) / 1e3 / k.toolTurns(i)
    val routeS = lad("pipeline.route")
    val perPass = tracedPasses.toSeq.map { case (id, gc) => passCounters(id, gc) }
    def pm(key: String) = Stats.median(perPass.map(_(key)))
    val overhead = Stats.median(tracedS.toSeq) / Stats.median(untracedS.toSeq) - 1
    val base = f"base pipeline.route_s $routeS%.4f s"
    val (tps1, eff) = scaling
    Seq(
      ("turns_per_s_1t", tps1, "turns/s",
        passTps.get(1).filter(_ => cores >= 4).fold(nullReason)(t => quart(t.toSeq))),
      ("scaling_eff", eff, "ratio",
        f"base turns_per_s ${Stats.median(passTps(cores).toSeq)}%.1f / ($cores x turns_per_s_1t)"),
      ("extract.busy_s", Some(extractS), "s", s"1 thread, no Spark, ${k.toolTurns.sum} turns"),
      ("extract.turns_per_s", Some(k.toolTurns.sum / extractS), "turns/s", ""),
      ("extract.html_us", Some(perTurnUs(0)), "us", s"${k.toolTurns(0)} html turns"),
      ("extract.pdf_us", Some(perTurnUs(1)), "us", s"${k.toolTurns(1)} pdf turns"),
      ("extract.passthrough_us", Some(perTurnUs(2)), "us", s"${k.toolTurns(2)} passthrough turns"),
      ("extract.errors", Some(refs.map(_.errors.toDouble).sum), "count", ""),
      ("seg.busy_s", Some(foldS), "s", s"1 thread, ${refs.length} conversations"),
      ("seg.convs_per_s", Some(refs.length / foldS), "convs/s", ""),
      ("seg.rules", Some(rules.toDouble), "count", ""),
      ("seg.found_ratio", Some(refs.map(_.found.toLong).sum.toDouble / rules), "ratio",
        s"base $rules rules attempted"),
      ("pipeline.scan_s", Some(lad("pipeline.scan")), "s", ""),
      ("pipeline.exchange_s", Some(lad("pipeline.exchange")), "s", "includes the scan"),
      ("pipeline.route_s", Some(routeS), "s", "segmentFused with a prebuilt broadcast"),
      ("pipeline.rules_s", Some(lad("pipeline.rules")), "s",
        f"segmentAuto - route; ${100 * lad("pipeline.rules") / lad("pipeline.auto")}%.1f%% of base segmentAuto ${lad("pipeline.auto")}%.4f s"),
      ("pipeline.residual_s", Some(lad("pipeline.residual")), "s",
        f"route - exchange - kernels ${lad("kernels")}%.4f s / $cores; ${100 * lad("pipeline.residual") / routeS}%.1f%% of $base"),
      ("pipeline.jobs", Some(pm("jobs")), "count", "per traced pass"),
      ("pipeline.stages", Some(pm("stages")), "count", "per traced pass"),
      ("pipeline.tasks", Some(pm("tasks")), "count", "per traced pass"),
      ("pipeline.shuffle_write_mb", Some(pm("shuffle_write_mb")), "MB", "per traced pass"),
      ("pipeline.shuffle_read_mb", Some(pm("shuffle_read_mb")), "MB", "per traced pass"),
      ("pipeline.spill_mb", Some(pm("spill_mb")), "MB", "per traced pass"),
      ("pipeline.gc_s", Some(pm("gc_s")), "s", "JVM GC time during a traced pass"),
      ("pipeline.task_p50_ms", Some(pm("task_p50_ms")), "ms", "fold stage tasks"),
      ("pipeline.task_max_ms", Some(pm("task_max_ms")), "ms", "fold stage tasks"),
      ("pipeline.task_skew", Some(pm("task_skew")), "ratio", "max/p50, fold stage"),
      ("io.commit_s", Some(lad("io.commit")), "s",
        f"append segments + lineage + rowCount; ${100 * lad("io.commit") / (lad("pipeline.auto") + lad("io.commit"))}%.1f%% of segmentAuto + commit"),
      ("io.files", Some(lad("io.files")), "count", "parquet files committed"),
      ("io.write_mb", Some(lad("io.write_mb")), "MB", "bytes committed"),
      ("io.read_s", Some(lad("io.read")), "s", "readRange(0, latest) + count"),
      ("io.manifests", Some(lad("io.manifests")), "count", ""),
      ("trace_overhead_frac", Some(overhead), "ratio",
        f"median traced job ${Stats.median(tracedS.toSeq)}%.4f s (n=${tracedS.size}) vs untraced ${Stats.median(untracedS.toSeq)}%.4f s (n=${untracedS.size})"),
      ("job_fail_frac", Some(failed.toDouble / attempted), "ratio", s"base $attempted jobs"))
  }

  /** Listener counters of one traced pass (all its descendant spans). */
  private def passCounters(passId: Int, gcS: Double): Map[String, Double] = {
    val gates = tracer.descendants(passId).filter(_.name == "gate")
      .flatMap(g => tracer.descendants(g.id) :+ g).map(_.id).toSet
    val ids = (tracer.descendants(passId).map(_.id) :+ passId).toSet -- gates
    val tasks = listener.tasks(ids)
    val appendIds = tracer.descendants(passId).filter(_.name == "io.append.segments").map(_.id).toSet
    val fold = tasks.filter(t => appendIds(t.span) && t.shuffleRead > 0).map(_.durMs.toDouble)
    val (p50, max) = if (fold.isEmpty) (0.0, 0.0) else (Stats.median(fold), fold.max)
    Map(
      "jobs" -> listener.jobs(ids).toDouble,
      "stages" -> listener.stages(ids).toDouble,
      "tasks" -> tasks.size.toDouble,
      "shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / 1e6,
      "shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / 1e6,
      "spill_mb" -> tasks.map(_.spill).sum / 1e6,
      "gc_s" -> gcS,
      "task_p50_ms" -> p50,
      "task_max_ms" -> max,
      "task_skew" -> (if (p50 > 0) max / p50 else 0.0))
  }

  private def attachListenerCounters(): Unit =
    tracer.spans.foreach { s =>
      val one = Set(s.id)
      val tasks = listener.tasks(one)
      s.counters("jobs") = listener.jobs(one).toDouble
      s.counters("stages") = listener.stages(one).toDouble
      s.counters("tasks") = tasks.size.toDouble
      s.counters("shuffle_write_bytes") = tasks.map(_.shuffleWrite).sum.toDouble
      s.counters("shuffle_read_bytes") = tasks.map(_.shuffleRead).sum.toDouble
      s.counters("spill_bytes") = tasks.map(_.spill).sum.toDouble
    }

  // ------------------------------------------------------------------ report

  private def report(metrics: Seq[Metric], correct: Boolean): Unit = {
    val lines = ArrayBuffer.empty[String]
    lines += s"[perfbench] $runId correct=$correct attempted=$attempted failed=$failed"
    metrics.foreach { case (k, v, u, note) =>
      lines += f"  $k%-26s ${v.fold("null")(x => f"$x%.6g")}%14s $u%-8s $note"
    }
    if (a.trace) {
      lines += "  spans (name, count, total s, self s):"
      tracer.summary.foreach { case (n, c, t, s) => lines += f"    $n%-28s $c%5d $t%10.4f $s%10.4f" }
    }
    lines.foreach(log.println)
    Files.createDirectories(a.records)
    def arr(xs: Iterable[Double]) = xs.map(Json.num).mkString("[", ",", "]")
    def byLevel(m: mutable.Map[Int, ArrayBuffer[Double]]) =
      m.toSeq.sortBy(_._1).map { case (l, xs) => s""""local[$l]":${arr(xs)}""" }.mkString("{", ",", "}")
    val record =
      s"""{"run":${Json.str(runId)},"workload":${Json.str(a.workload)},"seed":${a.seed},""" +
        s""""seconds":${a.seconds},"cores":$cores,"shape":${Json.str(shape.toString)},""" +
        s""""turns":$totalTurns,"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
        s""""setup_s":${byLevel(setups)},"turns_per_s":${byLevel(passTps)},"delta_s":${byLevel(deltaS)},""" +
        s""""read_s":${byLevel(readS)},"untraced_job_s":${arr(untracedS)},""" +
        s""""traced_job_s":${arr(tracedS)},"ladder":[${ladders.map(l =>
          l.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")).mkString(",")}],""" +
        s""""report":[${lines.map(Json.str).mkString(",")}]}""" + "\n"
    Files.write(a.records.resolve(s"$runId.json"), record.getBytes(StandardCharsets.UTF_8))
    if (a.trace) tracer.write(a.records.resolve(s"$runId.spans.jsonl"))
  }
}

object Bench {
  val ReadsPerPass = 3

  /** One job's input directory and its reference result. */
  final case class Delta(k: Int, dir: Path, ref: UnitRef) {
    def turns: String = dir.resolve("turns").toString
    def rules: String = dir.resolve("rules").toString
  }

  val TurnSchema = Encoders.product[Turn].schema
  val RuleSchema = Encoders.product[ConvRule].schema

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def peakRssMb: Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Runtime.getRuntime.totalMemory / 1e6
    else Files.readAllLines(status).asScala.collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1e3
    }.getOrElse(Runtime.getRuntime.totalMemory / 1e6)
  }

  def walk(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists) finally s.close()
    }
}
