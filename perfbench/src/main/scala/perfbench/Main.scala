package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import graft.{GraftSession, ReferencePipeline}
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM: one run of one workload, started fresh by `run.py`.
  *
  *   1. set-up, timed as `setup_s` from the launch of the JVM to the end
  *      of the warm-up: JVM start, the one cold `GraftSession.local(cores)`
  *      the run uses, then the workload's untimed warm-up rounds, which
  *      also land the engine's land-once inputs;
  *   2. timed rounds while the next one is expected to end no more than
  *      half a round past `--seconds` (at least one);
  *   3. the result line: `correct`, `attempted`, `failed` and the metrics,
  *      the end-to-end ones untraced and the per-layer ones traced.
  *
  * Other modes: `--make-corpus DIR` writes the corpus; `--record FILE`
  * computes every fingerprint serially, twice, and writes them.
  */
object Main {
  val Cores = 4

  private def opt(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it, but never
    * below the median; returns (percentile, value).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val q = 1.0 - 10.0 / s.size
    if (q <= 0.5) (50.0, median(s))
    else (q * 100, s(math.min(s.size - 1, math.ceil(q * s.size).toInt - 1)))
  }

  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def main(args: Array[String]): Unit = {
    val mainAt = epochNs()
    opt(args, "--make-corpus") match {
      case Some(dir) =>
        val spark = SparkSession.builder().master(s"local[$Cores]").appName("perfbench-corpus")
          .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC").getOrCreate()
        try Corpus.write(spark, dir) finally spark.stop()
        return
      case None =>
    }
    val corpus = opt(args, "--corpus").getOrElse(sys.error("--corpus is required"))
    val work = opt(args, "--work").getOrElse(sys.error("--work is required"))
    System.setProperty("spark.sql.warehouse.dir", s"$work/warehouse")
    System.setProperty("spark.local.dir", s"$work/spark-local")
    opt(args, "--record") match {
      case Some(out) => record(corpus, work, out)
      case None => sys.exit(run(args, corpus, work, mainAt))
    }
  }

  private def run(args: Array[String], corpus: String, work: String, mainAt: Long): Int = {
    val workload = Workload(opt(args, "--workload").getOrElse("tvf_lookup"))
    val seed = opt(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = opt(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = opt(args, "--trace").contains("1")
    val launchedAt = opt(args, "--launched-ns").map(_.toLong).getOrElse(mainAt)
    val expected = Print.load(opt(args, "--fingerprints").getOrElse(sys.error("--fingerprints is required")))
    val tracer = new Tracer(traced)

    // -- set-up --------------------------------------------------------
    val jvmStart = (mainAt - launchedAt) / 1e9
    val s0 = System.nanoTime()
    val spark = GraftSession.local(Cores, "perfbench")
    val sessionStart = (System.nanoTime() - s0) / 1e9
    tracer.register(spark)
    val ctx = new Ctx(spark, corpus, work, tracer, new scala.util.Random(seed), expected, Cores)
    ctx.setGroup("warmup")
    val w0 = System.nanoTime()
    val warmFailed = (1 to workload.warmupRounds).map { _ => workload.round(ctx); workload.finish(ctx).failed }.sum
    val warmup = (System.nanoTime() - w0) / 1e9
    val setup = (epochNs() - launchedAt) / 1e9
    val sc = spark.sparkContext
    val rddBaseline = sc.getPersistentRDDs.size

    // -- timed rounds --------------------------------------------------
    ctx.timed = true
    val walls = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    val calls = mutable.ArrayBuffer.empty[Double]
    val rounds = mutable.ArrayBuffer.empty[Span]
    var rddsMax = 0
    var cachedMax = 0.0
    var attempted = 0
    var failed = 0
    val timedFrom = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - timedFrom) / 1e9
    while (walls.isEmpty || elapsed + median(walls.toSeq) / 2 <= seconds) {
      val roundId = tracer.nextId()
      ctx.setGroup(s"r$roundId")
      val c0 = cpuNs()
      val t0 = System.nanoTime()
      tracer.span("round", 0L)(workload.round(ctx))
      val t1 = System.nanoTime()
      val c1 = cpuNs()
      rounds += Span(roundId, "round", 0L, 0L, 1, t0, t1)
      walls += (t1 - t0) / 1e9
      cpus += (c1 - c0) / 1e9
      val out = workload.finish(ctx)
      attempted += out.attempted
      failed += out.failed
      calls ++= (if (out.callNs.isEmpty) Seq((t1 - t0) / 1e6) else out.callNs.map(_ / 1e6))
      if (traced) {
        rddsMax = math.max(rddsMax, sc.getPersistentRDDs.size - rddBaseline)
        cachedMax = math.max(cachedMax, sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6)
      }
    }
    // The rounds run back to back; only after the last one is the heap
    // collected, twice: the second time after the ContextCleaner has
    // dropped what the first released (broadcasts, shuffle state).
    System.gc(); Thread.sleep(200); System.gc()
    val liveHeap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

    val (tailQ, tailMs) = tail(calls.toSeq)
    val correct = failed == 0 && warmFailed == 0 && calls.nonEmpty
    val endToEnd = Seq(
      ("setup_s", setup, "s"),
      ("wall_s", median(walls.toSeq), "s"),
      ("cpu_s", median(cpus.toSeq), "s"),
      ("peak_heap_mb", liveHeap / 1e6, "MB"),
      ("call_p50_ms", median(calls.toSeq), "ms"),
      ("call_tail_ms", tailMs, "ms"))
    System.err.println(f"[perfbench] ${workload.name} seed=$seed rounds=${walls.size} calls=${calls.size} " +
      f"tail=p$tailQ%.1f attempted=$attempted failed=$failed failed_frac=${failed.toDouble / math.max(1, attempted)}%.4f " +
      endToEnd.map { case (n, v, u) => f"$n=$v%.4f$u" }.mkString(" "))

    val stopFrom = System.nanoTime()
    spark.stop() // also delivers every listener event still queued
    val stopS = (System.nanoTime() - stopFrom) / 1e9
    val metrics: Seq[(String, Double, String)] =
      if (!traced) endToEnd
      else {
        workload.closeSpans(ctx)
        val layers = Layers.metrics(tracer, rounds.toSeq, Cores, sessionStart, warmup, rddsMax, cachedMax)
        val self = tracer.selfTimes(rounds.toSeq, tracer.engineJobs(rounds.toSeq).map(_._2))
        val out = opt(args, "--trace-out").getOrElse(s"$work/trace.json")
        Layers.writeArtifact(out, workload.name, seed, seconds, tracer, rounds.toSeq, endToEnd, layers, self,
          calls.size, tailQ, attempted, failed)
        layers
      }
    System.err.println(f"[perfbench] jvm_start=$jvmStart%.3fs session_start=$sessionStart%.3fs " +
      f"warmup=$warmup%.3fs timed=${(stopFrom - timedFrom) / 1e9}%.3fs stop=$stopS%.3fs " +
      f"main_to_exit=${(epochNs() - mainAt) / 1e9}%.3fs")
    println(Json.result(correct, attempted, failed, metrics))
    if (correct) 0 else 1
  }

  /** Serial fingerprints of every op the workloads run, computed twice. */
  private def record(corpus: String, work: String, out: String): Unit = {
    val spark = GraftSession.local(Cores, "perfbench-record")
    val passes = (1 to 2).map { _ =>
      val lookups = ((0 until Corpus.Users).map(_.toString) :+ "100000").map { id =>
        Workload.datamartKey(id) -> Print.of(ReferencePipeline.datamart(spark, corpus, id))
      }
      val queries = (Workload.dagFamilies.flatMap(_._2) ++ Workload.gates).map { q =>
        spark.catalog.clearCache()
        q -> Print.of(Workload.query(q).build(spark, corpus))
      }
      lookups ++ queries
    }
    val unstable = passes(0).zip(passes(1)).collect { case ((k, a), (_, b)) if a != b => k }
    unstable.foreach(k => System.err.println(s"[perfbench] fingerprint of $k differs between passes"))
    val lines = "# key\trows\tbit_xor(xxhash64(struct(*)))" +:
      passes(0).map { case (k, p) => s"$k\t$p" + (if (unstable.contains(k)) "\tunstable" else "") }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
