package graft.bench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}

import graft.gen.SyntheticTranscripts
import graft.io.SnapshotStore
import graft.pipeline.Pipeline
import graft.schema.{ConvRule, Turn}

/** Two-cluster-size scaling evidence for the north rule ("throughput
  * scaling efficiency ≥ 0.8 from N to 4N executors"). No real cluster
  * exists in this sandbox, so the SAME job is run on the SAME materialized
  * input at two parallelism levels (`local[4]` vs `local[16]`) in fresh
  * JVMs.
  *
  * Measurement protocol (see BENCH.md for the full justification):
  *
  *  - '''one long-lived child JVM per level''' (ParallelGC, GC threads =
  *    task threads, fixed heap): levels never share JIT/GC state,
  *    and the JIT warmup cost is paid once per level;
  *  - '''alternating bursts''': the two children take turns running short
  *    timed bursts (stdin `GO`/stdout `REP` protocol), so a host-noise
  *    episode hits both levels rather than biasing one;
  *  - '''occupancy pinning''': pure-ALU ballast threads hold the active
  *    core count at the top level's count while (and only while) a burst
  *    runs, removing the idle-socket turbo bias that otherwise flatters
  *    the low level;
  *  - '''fixed budget''': burst pairs run until the time budget is spent,
  *    whatever they measure, so no stop rule conditions the record.
  *
  * Every recorded number is a MEDIAN over all timed samples: a level's
  * seconds over all its reps, each burst's seconds over that burst's reps,
  * and the headline efficiency over the per-pair ratios
  * `(s_lo / s_hi) / (cpus_hi / cpus_lo)`. The two bursts of a pair run back
  * to back under the same clock regime, so each pair's ratio cancels
  * ambient frequency drift. A host with fewer processors than the top
  * level records no efficiency: an oversubscribed ratio measures the
  * host, not scaling.
  */
object Scaling {

  /** Cumulative JVM GC collection time — ONE definition shared by every
    * bench (Bench warm-pass attribution, the burst child), so gc_ms
    * semantics cannot drift between them. */
  private[graft] def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum

  /** Median of a non-empty sample (the mean of the middle two when its
    * size is even): the one statistic every bench in this package
    * records, so no record depends on a lucky or unlucky draw. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** One parallelism level; `seconds` is the median of all its timed reps. */
  final case class Level(cpus: Int, seconds: Double, turnsPerSec: Double, nSegments: Long)

  final case class Result(nConvs: Long, nTurns: Long, levels: Vector[Level],
                          // per burst pair, in order: each level's median
                          // burst seconds by cpu level
                          pairSeconds: Vector[Map[Int, Double]],
                          // processors available to the JVMs that ran the
                          // levels
                          hostCpus: Int,
                          // raw-thread kernel throughput by cpu level,
                          // measured in the SAME window right after the
                          // bursts ([[KernelBench.ceiling]]): the hardware
                          // ceiling the pipeline efficiency is bounded by,
                          // so a sub-bar capture self-documents whether the
                          // window (ceiling moved) or Spark (pipeline fell
                          // away from the ceiling) is responsible
                          kernelTps: Map[Int, Double] = Map.empty,
                          // the same ceiling measured BEFORE any timed work
                          // (pre/post bracket): a long capture can ride a
                          // window that opens or closes mid-run, and two
                          // endpoints bound the whole run
                          kernelTpsPre: Map[Int, Double] = Map.empty) {
    private def topCpus: Int = levels.map(_.cpus).max

    /** Why this run records no efficiency; None when it records one. */
    def nullReason: Option[String] =
      if (hostCpus < topCpus)
        Some(s"host has $hostCpus processors, fewer than the top level local[$topCpus]: " +
          "an oversubscribed ratio measures the host, not scaling")
      else if (levels.map(_.cpus).distinct.size < 2) Some("fewer than two levels measured")
      else None

    /** Per-pair efficiency `(s_lo / s_hi) / (cpus_hi / cpus_lo)` between the
      * lowest and the highest level, in burst order; empty when
      * [[nullReason]] is set. */
    def pairRatios: Vector[Double] =
      if (nullReason.isDefined) Vector.empty
      else pairSeconds.map { m =>
        val (loC, loS) = m.minBy(_._1)
        val (hiC, hiS) = m.maxBy(_._1)
        (loS / hiS) / (hiC.toDouble / loC)
      }

    /** Headline: the median of [[pairRatios]]; None with a [[nullReason]]. */
    def efficiency: Option[Double] =
      if (pairRatios.isEmpty) None else Some(median(pairRatios))

    /** Kernel N→4N efficiency over [[kernelTps]]'s extreme levels — the
      * window's hardware ceiling; NaN when not measured, or when
      * [[nullReason]] is set: threads past the host's processors make the
      * kernel's ratio as oversubscribed as the pipeline's. */
    def kernelEfficiency: Double = kernelEff(kernelTps)

    /** The pre-run bracket endpoint ([[kernelTpsPre]]); NaN as for
      * [[kernelEfficiency]]. */
    def kernelEfficiencyPre: Double = kernelEff(kernelTpsPre)

    private def kernelEff(tps: Map[Int, Double]): Double =
      if (tps.size < 2 || nullReason.isDefined) Double.NaN
      else {
        val lo = tps.keys.min
        val hi = tps.keys.max
        (tps(hi) / tps(lo)) / (hi.toDouble / lo)
      }

    def json: String = {
      val ls = levels.map(l =>
        s"""{"cpus":${l.cpus},"seconds":${f"${l.seconds}%.3f"},"turns_per_sec":${f"${l.turnsPerSec}%.1f"},"segments":${l.nSegments}}""")
        .mkString("[", ",", "]")
      val eff = efficiency.map(e => f"$e%.3f").getOrElse("null") +
        nullReason.map(r => s""","efficiency_null_reason":"$r"""").getOrElse("")
      val ratios = pairRatios.map(e => f"$e%.3f").mkString("[", ",", "]")
      def ceilingJson(m: Map[Int, Double]): String =
        if (m.size < 2) "null"
        else {
          val tps = m.toSeq.sortBy(_._1)
            .map { case (c, t) => s""""$c":${f"$t%.0f"}""" }.mkString("{", ",", "}")
          val e = kernelEff(m)
          s"""{"tps":$tps,"efficiency":${if (e.isNaN) "null" else f"$e%.3f"}}"""
        }
      s"""{"n_convs":$nConvs,"n_turns":$nTurns,"levels":$ls,"efficiency":$eff,""" +
        s""""pair_ratios":$ratios,"bursts":${pairSeconds.length},""" +
        s""""kernel_ceiling":${ceilingJson(kernelTps)},"kernel_ceiling_pre":${ceilingJson(kernelTpsPre)},""" +
        // the ballast keeps no more cores busy than the host has
        s""""occupancy_pinned_to_cores":${math.min(topCpus, hostCpus)}}"""
    }
  }

  def session(cpus: Int, localDir: Option[String] = None): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      // many small tasks: stragglers (hot conversations, uneven parquet
      // splits) rebalance through scheduling instead of idling cores, and
      // per-task live memory (sort pages) stays small enough that young-GC
      // survivor copying doesn't grow with task concurrency
      .config("spark.sql.shuffle.partitions", (cpus * 8).toString)
      .config("spark.sql.files.maxPartitionBytes", (32 * 1024 * 1024).toString)
      .config("spark.buffer.pageSize", "8m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
    // The box's disk writes ~470 MB/s — slower than 32 cores chew through
    // text — so shuffle spill dirs go to tmpfs for the scaling measurement:
    // we are evidencing COMPUTE scaling (a real cluster has NVMe + network
    // shuffle service); a disk-serialized sandbox would measure the disk.
    localDir.foreach(d => b.config("spark.local.dir", d))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** tmpfs scratch root when available (shuffle + input), else /tmp. */
  def scratchRoot: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) shm
    else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
  }

  private[bench] def childJvmCmd(mainClass: String, gcThreads: Int, args: Seq[String]): Seq[String] = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    // pair-aware: the two-argument form ("--add-opens" "<module spec>")
    // arrives as two separate input arguments — keeping the flag but
    // dropping its value would make the child JVM parse the NEXT flag as
    // the module spec and die at spawn
    val inArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toVector
    val addOpens = inArgs.zipWithIndex.flatMap { case (a, i) =>
      if (a == "--add-opens" || a == "--add-exports") Seq(a) ++ inArgs.lift(i + 1)
      else if (a.startsWith("--add-opens=") || a.startsWith("--add-exports=")) Seq(a)
      else Seq.empty
    }
    Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx16g", "-XX:+UseParallelGC", s"-XX:ParallelGCThreads=$gcThreads",
      "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      mainClass) ++ args
  }

  /** Generates and writes the fixed input corpus once, in a fresh child
    * JVM ([[MaterializeRunner]]) — safe while the calling JVM holds a live
    * SparkContext of its own; returns (dir, nTurns). */
  def materializeInChild(nConvs: Long, seed: Long, genCpus: Int): (String, Long) = {
    val dir = Files.createTempDirectory(scratchRoot, "graft-scaling").toString
    try {
      val pb = new ProcessBuilder(childJvmCmd("graft.bench.MaterializeRunner", genCpus,
        Seq(dir, nConvs.toString, seed.toString, genCpus.toString)): _*)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val proc = pb.start()
      // stdout drained on a daemon thread so the wait below can be BOUNDED
      // — a wedged child must fail the prepare loudly, not hang the bench
      val buf = new java.io.ByteArrayOutputStream()
      val rd = new Thread(() =>
        try { proc.getInputStream.transferTo(buf); () } catch { case _: Throwable => })
      rd.setDaemon(true)
      rd.start()
      if (!proc.waitFor(600, java.util.concurrent.TimeUnit.SECONDS)) {
        proc.destroyForcibly()
        sys.error("materialize child exceeded 600s — killed")
      }
      rd.join(5000L)
      val out = buf.toString("UTF-8")
      val n = out.linesIterator.find(_.startsWith("TURNS ")).map(_.drop(6).trim.toLong)
        .getOrElse(sys.error(s"materialize child produced no TURNS line (exit ${proc.exitValue()})"))
      (dir, n)
    } catch {
      // on tmpfs a leaked partial-parquet dir is leaked RAM across runs
      case e: Throwable =>
        SnapshotStore.deleteRecursively(Paths.get(dir))
        throw e
    }
  }

  /** Spinners a level of `cpus` task threads runs beside its bursts: enough
    * to keep `top` cores busy, but none past the host's `hostCpus` — on
    * fewer cores a spinner only steals cycles from the measured level. */
  private[graft] def ballastSpinners(top: Int, cpus: Int, hostCpus: Int): Int =
    math.min(top - cpus, math.max(0, hostCpus - cpus))

  /** Occupancy ballast: `n` pure-ALU spinner threads (no memory traffic,
    * min priority) that actively spin only while `engaged`; parked
    * otherwise, so an idle level's ballast never competes with the level
    * that is currently measuring. */
  final class Ballast(n: Int) {
    private val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    private val active = new java.util.concurrent.atomic.AtomicBoolean(false)
    private val threads = (0 until math.max(0, n)).map { _ =>
      val t = new Thread(() =>
        while (!stop.get()) {
          if (active.get()) Thread.onSpinWait()
          else java.util.concurrent.locks.LockSupport.parkNanos(1000000L)
        })
      t.setDaemon(true)
      t.setPriority(Thread.MIN_PRIORITY)
      t.start()
      t
    }
    def engage(): Unit = active.set(true)
    def disengage(): Unit = active.set(false)
    def shutdown(): Unit = { stop.set(true); threads.foreach(_.join(1000)) }
  }

  /** Handle to one long-lived per-level child JVM speaking the burst
    * protocol: parent writes `GO <reps>` / `EXIT`, child answers each rep
    * with `REP <seconds> <segments>` then `BURST_DONE`. Every read is
    * DEADLINE-BOUNDED by polling `ready()` — a live-but-wedged child (hung
    * session startup, stalled Spark job) surfaces as a timeout instead of
    * blocking the parent on `readLine()` forever. */
  private final class BurstChild(val cpus: Int, proc: Process) {
    private val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream, "UTF-8"))
    private val out = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(proc.getOutputStream, "UTF-8"), true)
    private val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    private var segments: Long = 0L

    /** Next line, or None on EOF (dead child); IOException past `deadline`
      * (wedged child). The child writes whole lines with auto-flush, so
      * once `ready()` turns true a line completes promptly. */
    private def readLineWithin(deadlineNanos: Long): Option[String] = {
      while (!in.ready()) {
        if (!proc.isAlive && !in.ready()) return None
        if (System.nanoTime() > deadlineNanos)
          throw new java.io.IOException(s"burst child local[$cpus] unresponsive past deadline")
        Thread.sleep(50)
      }
      Option(in.readLine())
    }

    /** Waits (bounded) until the child finished its session setup + warmup. */
    def awaitReady(timeoutMs: Long): Boolean = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      try {
        var line: Option[String] = Some("")
        while (line.isDefined && !line.contains("READY"))
          line = readLineWithin(deadline)
        line.contains("READY")
      } catch { case _: java.io.IOException => false }
    }

    /** Runs one burst of `reps` timed reps; returns per-rep seconds. A rep
      * is a bounded Spark job, so 15 minutes of silence means a wedged
      * child, not a slow one. */
    def burst(reps: Int): Seq[Double] = {
      out.println(s"GO $reps")
      val deadline = System.nanoTime() + 15L * 60 * 1000000000L
      val burstTimes = Vector.newBuilder[Double]
      var line = readLineWithin(deadline)
      while (line.isDefined && !line.contains("BURST_DONE")) {
        line.filter(_.startsWith("REP ")).foreach { l =>
          val Array(_, s, segs) = l.split(" ")
          burstTimes += s.toDouble
          segments = segs.toLong
        }
        line = readLineWithin(deadline)
      }
      if (line.isEmpty) throw new java.io.IOException(s"burst child local[$cpus] died")
      val got = burstTimes.result()
      times ++= got
      got
    }

    def close(): Unit = {
      try out.println("EXIT") catch { case _: Throwable => }
      if (!proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))
        proc.destroyForcibly()
    }

    /** The level over every timed rep so far. */
    def level(nTurns: Long): Level = {
      val s = median(times.toSeq)
      Level(cpus, s, nTurns / s, segments)
    }
  }

  private def spawnBurstChild(cpus: Int, dir: String, nConvs: Long, seed: Long,
                              ballastTo: Int): BurstChild = {
    // throughput collector; GC threads proportional to task threads
    val pb = new ProcessBuilder(childJvmCmd("graft.bench.BurstLevelRunner", cpus,
      Seq(cpus.toString, dir, nConvs.toString, seed.toString, ballastTo.toString)): _*)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    new BurstChild(cpus, pb.start())
  }

  /** Incremental alternating-burst session: `prepare()` materializes the
    * input, spawns one child JVM per level, and warms them up; each
    * `pulse()` runs ONE alternating burst pair. A caller with other work
    * (graft.Bench's query passes) interleaves pulses between its own
    * steps, so the sampling horizon becomes the caller's WHOLE run, while
    * bursts stay strictly serialized with the caller's work (no
    * self-contention). `budgetMs` bounds the total time spent inside
    * `pulse()`, and is always drained. The first failure (children that
    * cannot spawn, never report READY, or die) ends the session; [[result]]
    * then names it. */
  final class BurstSession(nConvs: Long, cpusLevels: Seq[Int], budgetMs: Long,
                           seed: Long = 42L) {
    require(budgetMs > 0, s"the scaling time budget must be positive, got $budgetMs ms")
    private val ballastTo = cpusLevels.max
    private var dir: String = null
    private var nTurns = 0L
    private var children: Vector[BurstChild] = Vector.empty
    // levels snapshot after the last pair: valid once the children close
    private var levels: Vector[Level] = Vector.empty
    private val pairSeconds = scala.collection.mutable.ArrayBuffer.empty[Map[Int, Double]]
    private val pairMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    @volatile private var readyFlag = false
    @volatile private var failure: Option[String] = None
    @volatile private var abandonedFlag = false

    /** Signals that the owner stopped waiting on prepare(): if prepare
      * completes later it releases its children immediately instead of
      * leaving two idle 16g JVMs behind. */
    def abandon(): Unit = abandonedFlag = true

    /** Materialize + spawn + warm up; idempotent. */
    def prepare(): Unit = synchronized {
      if (readyFlag || failure.isDefined) return
      try {
        // child-JVM materialization: the caller may hold a live
        // SparkContext of its own (graft.Bench's query session)
        val (d, n) = materializeInChild(nConvs, seed, genCpus = cpusLevels.max)
        dir = d
        nTurns = n
        // register each child AS IT SPAWNS so a failure mid-way still
        // closes the ones already running (no leaked 16g JVMs)
        cpusLevels.foreach(c =>
          children = children :+ spawnBurstChild(c, dir, nConvs, seed, ballastTo))
        children.find(!_.awaitReady(240000L)).foreach(c =>
          sys.error(s"burst child local[${c.cpus}] did not report READY within 240 s"))
        if (abandonedFlag) fail("abandoned before the burst children were READY")
        else readyFlag = true
      } catch { case e: Throwable => fail(s"burst session failed to prepare: $e") }
    }

    private def fail(cause: String): Unit = {
      System.err.println(s"[scaling] $cause")
      failure = Some(cause)
      readyFlag = false
      close()
    }

    // the FIRST burst runs twice the reps to settle JIT/GC; the high level
    // runs twice the low level's reps, which roughly evens out the two
    // bursts' wall time
    private def burstReps(c: BurstChild): Int = {
      val n = math.min(2, c.cpus / cpusLevels.min)
      if (pairSeconds.isEmpty) 2 * n else n
    }

    /** Another pulse is still useful: under the 16-pair cap, and the
      * budget fits another pair at the median pair cost so far. The budget
      * is drained on every run: a stop rule keyed to the measured numbers
      * would be optional stopping. */
    def wantMore: Boolean = readyFlag && pairSeconds.length < 16 &&
      (pairMs.length < 2 || pairMs.sum + median(pairMs.toSeq) * 1.1 < budgetMs)

    /** One alternating burst pair across the levels. */
    def pulse(): Unit = synchronized {
      if (!readyFlag) return
      val ps = System.nanoTime()
      try {
        pairSeconds += children.map(c => c.cpus -> median(c.burst(burstReps(c)))).toMap
        levels = children.map(_.level(nTurns))
      } catch { case e: Throwable => fail(s"burst pair ${pairSeconds.length + 1} failed: $e") }
      finally pairMs += (System.nanoTime() - ps) / 1e6
    }

    /** The record over every pair so far, or the cause no record exists. */
    def result(): Either[String, Result] =
      failure.orElse(
        if (!readyFlag && pairSeconds.isEmpty) Some("burst children never became READY")
        else if (pairSeconds.isEmpty) Some("no burst pair completed")
        else None
      ).toLeft(Result(nConvs, nTurns, levels, pairSeconds.toVector,
        Runtime.getRuntime.availableProcessors))

    def close(): Unit = synchronized {
      children.foreach(c => try c.close() catch { case _: Throwable => })
      children = Vector.empty
      if (dir != null) SnapshotStore.deleteRecursively(Paths.get(dir))
      dir = null
    }
  }

  /** One-shot entry (ScalingBench): the burst session pulsed back to back
    * until its budget is spent, bracketed by the kernel ceiling. Throws,
    * naming the cause, when the children fail. */
  def run(nConvs: Long, cpusLevels: Seq[Int], timeBudgetMs: Long, seed: Long = 42L): Result = {
    // kernel-ceiling bracket: one probe before any timed work, one after
    // the bursts (each in ITS half of the window, never concurrent with a
    // timed Spark level): raw threads on the same corpus shape, ~10 s per
    // endpoint — see [[Result.kernelTps]]/[[Result.kernelTpsPre]]
    def ceiling(): Map[Int, Double] =
      if (cpusLevels.distinct.size < 2) Map.empty
      else KernelBench.ceiling(seed, nConvs = 6000, Seq(cpusLevels.min, cpusLevels.max))
    val pre = ceiling()
    val session = new BurstSession(nConvs, cpusLevels, timeBudgetMs, seed)
    val r = try {
      session.prepare()
      while (session.wantMore) session.pulse()
      session.result()
    } finally session.close()
    r.fold(cause => throw new IllegalStateException(s"scaling run recorded nothing: $cause"),
      _.copy(kernelTpsPre = pre, kernelTps = ceiling()))
  }
}

/** Child-JVM entry that generates and writes the scaling input corpus,
  * `$dir/turns` and `$dir/rules` (see [[Scaling.materializeInChild]]).
  * Prints `TURNS <count>`. */
object MaterializeRunner {
  def main(args: Array[String]): Unit = {
    val Array(dir, nConvs, seed, cpus) = args
    val spark = Scaling.session(cpus.toInt, Some(s"$dir/shuffle-gen"))
    try {
      SyntheticTranscripts.turns(spark, nConvs.toLong, seed.toLong)
        .write.mode("overwrite").parquet(s"$dir/turns")
      SyntheticTranscripts.rules(spark, nConvs.toLong, seed.toLong)
        .write.mode("overwrite").parquet(s"$dir/rules")
      val turns = spark.read.schema(Encoders.product[Turn].schema).parquet(s"$dir/turns")
      println("TURNS " + turns.count())
    } finally spark.stop()
  }
}

/** Child-JVM entry for one scaling level under the alternating-burst
  * protocol (see [[Scaling]]): set up the session + JIT
  * warmup ONCE, then serve timed bursts on demand. Ballast spinners engage
  * only while a burst runs, so the idle level never steals cycles from the
  * measuring one. */
object BurstLevelRunner {
  def main(args: Array[String]): Unit = {
    val Array(cpusS, dir, nConvsS, seedS, ballastToS) = args
    val (cpus, nConvs, seed, ballastTo) =
      (cpusS.toInt, nConvsS.toLong, seedS.toLong, ballastToS.toInt)
    val ballast = new Scaling.Ballast(
      Scaling.ballastSpinners(ballastTo, cpus, Runtime.getRuntime.availableProcessors))
    val spark = Scaling.session(cpus, Some(s"$dir/shuffle-c$cpus"))
    val stdout = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(System.out, "UTF-8"), true)
    try {
      import spark.implicits._
      // the production route over the two parquet dirs, read like
      // SubmitMain reads them (declared schemas, no inference job): rules
      // co-partition with the turns in the join node, nothing is collected
      // to the driver
      def readAs[T: Encoder](name: String) =
        spark.read.schema(implicitly[Encoder[T]].schema).parquet(s"$dir/$name").as[T]
      val rules = readAs[ConvRule]("rules")
      def job(): Long = {
        val turns = readAs[Turn]("turns")
        Pipeline.segmentAuto(turns, rules).count()
      }
      def gcMs: Long = Scaling.gcMs
      // warmup under ballast (same occupancy as the timed reps): a small
      // pass to JIT the kernels cheaply, then a half-size pass so the heap
      // and GC ergonomics expand to realistic allocation rates BEFORE the
      // first timed rep (a 4k-conv-only warmup left rep1 paying tens of
      // seconds of heap growth + full-size JIT on a noisy host)
      ballast.engage()
      Pipeline.segmentAuto(
        SyntheticTranscripts.turns(spark, math.min(4000L, nConvs), seed), rules).count()
      Pipeline.segmentAuto(
        SyntheticTranscripts.turns(spark, math.min(30000L, nConvs), seed), rules).count()
      ballast.disengage()
      stdout.println("READY")
      val stdin = new java.io.BufferedReader(new java.io.InputStreamReader(System.in, "UTF-8"))
      var rep = 0
      var line = stdin.readLine()
      while (line != null && line != "EXIT") {
        if (line.startsWith("GO")) {
          val reps = line.split(" ").lift(1).map(_.toInt).getOrElse(2)
          ballast.engage()
          for (_ <- 0 until reps) {
            rep += 1
            val g0 = gcMs
            val t0 = System.nanoTime()
            val segs = job()
            val s = (System.nanoTime() - t0) / 1e9
            System.err.println(f"[scaling] local[$cpus] rep$rep: $s%.2fs gc=${gcMs - g0}ms")
            // Double.toString is locale-proof; an %f interpolation would
            // comma-separate decimals under e.g. LANG=de_DE and poison
            // the parent's parse
            stdout.println("REP " + s + " " + segs)
          }
          ballast.disengage()
          stdout.println("BURST_DONE")
        }
        line = stdin.readLine()
      }
    } finally {
      ballast.shutdown()
      spark.stop()
    }
  }
}

/** Standalone scaling run → stdout JSON + BENCH.md table.
  * Usage: runMain graft.bench.ScalingBench [nConvs] [cpusLo,cpusHi] [budgetMs]
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT) // JSON decimal points

    val nConvs = if (args.length > 0) args(0).toLong else 100000L
    val levels = if (args.length > 1) args(1).split(",").toSeq.map(_.toInt) else Seq(4, 16)
    val budget = if (args.length > 2) args(2).toLong else 420000L
    val res = Scaling.run(nConvs, levels, timeBudgetMs = budget)
    println(res.json)
    // single-level runs (soaks) must not clobber the scaling report
    if (levels.size < 2) return
    val rows = res.levels.map(l =>
      f"| local[${l.cpus}] | ${res.nTurns} | ${l.seconds}%.2f | ${l.turnsPerSec}%.0f | ${l.nSegments} |")
      .mkString("\n")
    val headline = res.efficiency match {
      case Some(e) =>
        f"**N→4N efficiency: $e%.3f**, the median of the per-pair ratios " +
          res.pairRatios.map(r => f"$r%.3f").mkString(", ")
      case None => s"**N→4N efficiency: not recorded** — ${res.nullReason.getOrElse("")}"
    }
    val md =
      s"""# BENCH — measured throughput & scaling
         |
         |Pipeline (production route, `Pipeline.segmentAuto`): parquet scan
         |of turns and rules → one conv_id shuffle per side + secondary sort
         |(conv_id, turn_idx) → join node: per-turn extraction (HTML
         |boilerplate strip / PDF layout parse / passthrough) +
         |per-conversation demarcation fold in one partition pass → segment
         |count; no rule is collected to the driver. Same input bytes at
         |every level; one LONG-LIVED child JVM per level (ParallelGC, GC threads = task
         |threads — levels never share JIT/GC state, warmup paid once);
         |alternating short timed bursts so a host-noise episode hits both
         |levels; occupancy-pinning ballast active only while a burst runs;
         |burst pairs continue until the time budget is spent
         |(${res.pairSeconds.length} burst pairs this run). Every number is a
         |median over all timed samples: a level's seconds over all its reps,
         |each pair's ratio (s_lo / s_hi) / (cpus_hi / cpus_lo) over each
         |burst's reps, and the efficiency over the per-pair ratios. The two
         |bursts of a pair share one clock regime, so each ratio cancels
         |ambient frequency drift. A host with fewer processors than the top
         |level records no efficiency: an oversubscribed ratio measures the
         |host, not scaling.
         |
         |Input: ${res.nConvs} conversations, ${res.nTurns} turns
         |(deterministic synthetic corpus, seed 42, hot-conversation skew
         |every 97th conv ×12). Shuffle dirs on tmpfs: this box writes disk at
         |~470 MB/s, slower than 32 cores process text, and the measurement
         |target is compute scaling (a production cluster has NVMe + a
         |network shuffle tier).
         |
         || level | turns | seconds (median) | turns/sec | segments |
         ||---|---|---|---|---|
         |%%ROWS%%
         |
         |$headline (target ≥ 0.8 per BASELINE.json north rule; measured on
         |identical input at two parallelism levels per the sandbox protocol —
         |no real cluster is available here).
         |
         |Context: a kernel-only microbench (`graft.bench.KernelBench`, no
         |Spark, measured in THIS window right after the bursts) scaled
         |${res.kernelTps.keys.minOption.getOrElse(0)}→${res.kernelTps.keys.maxOption.getOrElse(0)} threads at
         |**${if (res.kernelEfficiency.isNaN) "n/a" else f"${res.kernelEfficiency}%.3f"}**${if (res.kernelEfficiencyPre.isNaN) "" else f" (pre-run bracket endpoint, before any timed work: ${res.kernelEfficiencyPre}%.3f)"} — memory bandwidth, not the pipeline, is the
         |ceiling at high thread counts on this single-socket box. Compare
         |the pipeline's efficiency with this raw-kernel ceiling to attribute
         |a weak capture to window weather vs a pipeline regression. On a
         |real N→4N *executor* scale-up, memory bandwidth grows with node
         |count.
         |""".stripMargin
      // rows substituted AFTER stripMargin: their leading '|' table-cell
      // markers would otherwise be eaten as margin characters
      .replace("%%ROWS%%", rows)
    // preserve any manually-added sections (e.g. the soak results) that
    // follow a "## " heading after the generated report
    val path = java.nio.file.Paths.get("BENCH.md")
    val preserved =
      if (java.nio.file.Files.exists(path)) {
        val old = java.nio.file.Files.readString(path)
        val idx = old.indexOf("\n## ")
        if (idx >= 0) old.substring(idx) else ""
      } else ""
    java.nio.file.Files.writeString(path, md + preserved)
  }
}
