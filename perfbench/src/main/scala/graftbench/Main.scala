package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.plans.Caches

/**
 * The benchmark driver: one Spark session at `local[4]`, one client in
 * a closed loop (the next operation starts when the previous one ends).
 *
 *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                   [--scale bench|smoke] [--work <dir>] [--expected <dir>]
 *                   [--launched-at-ms <t>] [--prepare] [--plant-wrong-digest]
 *                   [--record-expected] [--export-fixture <dir>] [--digest-dumps <dir>]
 *
 * `--prepare` generates the workload's missing inputs and exits, so that
 * input generation never runs in the JVM that is timed. A measuring run
 * starts cold: `setup_s` runs from the process launch (`--launched-at-ms`,
 * else the JVM's start) to the end of a session plus one warm-up pass.
 * A fixed number of untimed passes then settle the JIT, and passes run until
 * `--seconds` more have elapsed, each
 * operation ending in a digest of all its output columns. Reference
 * computations run after the timed region, and an operation that threw or
 * produced the wrong digest is counted as failed and never used as a
 * latency sample. With `--trace 1` the loop runs twice as long and every
 * other pass is traced (job listener attached, spans recorded); the
 * per-layer numbers come from the traced passes, and the plain passes
 * between them give the tracing overhead. The last stdout line is the
 * result JSON.
 */
object Main {
  val Cores = 4

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 10.0, trace: Boolean = false,
                        scale: String = "bench", work: File = new File(".bench_build/perfbench"),
                        expected: File = new File("perfbench/expected"),
                        launchedAtMs: Option[Long] = None, prepare: Boolean = false,
                        plantWrongDigest: Boolean = false, exportFixture: Option[String] = None,
                        recordExpected: Boolean = false, digestDumps: Option[String] = None)

  private def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, a.copy(trace = v == "1"))
    case "--scale" :: v :: t => parse(t, a.copy(scale = v))
    case "--work" :: v :: t => parse(t, a.copy(work = new File(v)))
    case "--expected" :: v :: t => parse(t, a.copy(expected = new File(v)))
    case "--launched-at-ms" :: v :: t => parse(t, a.copy(launchedAtMs = Some(v.toLong)))
    case "--prepare" :: t => parse(t, a.copy(prepare = true))
    case "--plant-wrong-digest" :: t => parse(t, a.copy(plantWrongDigest = true))
    case "--export-fixture" :: v :: t => parse(t, a.copy(exportFixture = Some(v)))
    case "--record-expected" :: t => parse(t, a.copy(recordExpected = true))
    case "--digest-dumps" :: v :: t => parse(t, a.copy(digestDumps = Some(v)))
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  /** One attempted operation of a timed loop. */
  final case class Sample(pass: Int, op: String, trace: Int, digest: Option[Digest], seconds: Double,
                          build: Double, plan: Double, action: Double, flush: Double,
                          phases: Map[String, Double], compileS: Double, classes: Long,
                          plan0: PlanStats.Counts, persisted: Int)

  final case class Loop(samples: Seq[Sample], passSeconds: Seq[(Int, Double)])

  def session(w: Workload, a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${Cores}]")
      .appName(s"graft-perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // room for every generated class of a workload's passes: at the
      // default 100 entries catalog_mix evicts and recompiles about 25
      // classes a pass, and about one driver JVM in five then falls into
      // JIT deoptimization storms that make whole passes 20-25% slower
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(a.work, "tmp").getAbsolutePath)
    w.conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    Caches.flush()
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Builds, plans and digests one operation; `spans` set = traced. */
  def runOp(spark: SparkSession, op: Op, pass: Int, trace: Int, spans: Option[Spans]): Sample = {
    val sc = spark.sparkContext
    val cg0 = CodeGenerator.compileTime
    val cl0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    var t1, t2, t3 = t0
    var digest: Option[Digest] = None
    var phases = Map.empty[String, Double]
    var counts = PlanStats.Counts(0, 0, 0)
    try {
      sc.setJobGroup(s"op$trace/build", op.name)
      val df = op.build(spark)
      t1 = System.nanoTime()
      sc.setJobGroup(s"op$trace/action", op.name)
      val d = Digest.frame(df)
      d.queryExecution.executedPlan
      t2 = System.nanoTime()
      digest = Some(Digest.of(d.collect()(0)))
      t3 = System.nanoTime()
      if (spans.isDefined) {
        phases = d.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
        counts = PlanStats.of(d.queryExecution.executedPlan)
      }
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] ${op.name} threw: ${e.getClass.getSimpleName}: ${e.getMessage}")
        t3 = System.nanoTime()
    } finally sc.clearJobGroup()
    val persisted = sc.getPersistentRDDs.size
    Caches.flush()
    val t4 = System.nanoTime()
    spans.foreach { sp =>
      val root = sp.add(trace, -1, op.name, t0, t4)
      if (digest.isDefined) {
        sp.add(trace, root, "build", t0, t1)
        sp.add(trace, root, "plan", t1, t2)
        sp.add(trace, root, "action", t2, t3)
      }
      sp.add(trace, root, "flush", t3, t4)
    }
    Sample(pass, op.name, trace, digest, secs(t0, t3), secs(t0, t1), secs(t1, t2), secs(t2, t3), secs(t3, t4),
      phases, (CodeGenerator.compileTime - cg0) / 1e9,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cl0, counts, persisted)
  }

  /** Whole passes until `seconds` have elapsed or `maxPasses` have run (at
    * least one pass). With a tracer, odd passes are traced (listener
    * attached, spans recorded) and even ones are not, so the two kinds
    * interleave over the same warm-up. */
  def loop(spark: SparkSession, w: Workload, seconds: Double, firstPass: Int, firstTrace: Int,
           tracer: Option[(JobListener, Spans)], maxPasses: Int = Int.MaxValue): Loop = {
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passes = mutable.ArrayBuffer.empty[(Int, Double)]
    val t0 = System.nanoTime()
    var k = firstPass
    while (k == firstPass || (secs(t0, System.nanoTime()) < seconds && k - firstPass < maxPasses)) {
      val on = tracer.filter(_ => k % 2 == 1)
      on.foreach(t => spark.sparkContext.addSparkListener(t._1))
      val p0 = System.nanoTime()
      w.pass(k).foreach(op => samples += runOp(spark, op, k, firstTrace + samples.size, on.map(_._2)))
      passes += k -> secs(p0, System.nanoTime())
      on.foreach { t => t._1.drain(); spark.sparkContext.removeSparkListener(t._1) }
      k += 1
    }
    Loop(samples.toSeq, passes.toSeq)
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** The stamp run.py wrote after building: a hash of every source file.
    * It keys the generated inputs, so a changed generator regenerates them. */
  private def inputStamp(work: File): String = {
    val f = new File(work, "build.stamp")
    if (!f.exists()) throw new IllegalStateException(s"no $f: build with perfbench/run.py first")
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim.take(16)
  }

  /** (steal, total) CPU ticks of the machine so far, from /proc/stat: the
    * share of time the host ran other guests on this machine's CPUs. */
  private def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map { l =>
      val f = l.split("\\s+").drop(1).take(8).map(_.toLong)
      (f(7), f.sum)
    }.getOrElse((0L, 0L))
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    a.work.mkdirs()
    val measuring = !a.prepare && a.exportFixture.isEmpty && a.digestDumps.isEmpty
    val ctx = Ctx(a.seed, Scale(a.scale), new File(a.work, "data"), inputStamp(a.work),
      generate = !measuring, a.expected)
    val w = Workloads(a.workload, ctx)
    val launchedMs = a.launchedAtMs.getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)

    if (!measuring) {
      var started: Option[SparkSession] = None
      lazy val spark = { started = Some(session(w, a)); started.get }
      w.prepare(spark)
      a.exportFixture.foreach(out => Fixture.export(Fixture.catalog(spark, ctx), out))
      val bad = a.digestDumps.toSeq.flatMap { dumps =>
        w.expected(spark).toSeq.sortBy(_._1).filter { case (op, want) =>
          val got = Digest.compute(spark.read.parquet(s"$dumps/$op"))
          System.err.println(s"[perfbench] ${if (got == want) "OK  " else "FAIL"} $op $got")
          got != want
        }
      }
      started.foreach(stop)
      if (bad.nonEmpty) sys.exit(1)
      return
    }

    // ---- set-up: this JVM's start, the session and one warm-up pass ----
    val enteredMs = System.currentTimeMillis()
    val s0 = System.nanoTime()
    val spark = session(w, a)
    w.prepare(spark)
    val s1 = System.nanoTime()
    loop(spark, w, 0.0, 0, 0, None)
    val s2 = System.nanoTime()
    val setup = (System.currentTimeMillis() - launchedMs) / 1e3
    val setupParts = Seq(("setup.jvm_s", (enteredMs - launchedMs) / 1e3), ("setup.session_s", secs(s0, s1)),
      ("setup.warmup_s", secs(s1, s2)))
    val setupCompileS = CodeGenerator.compileTime / 1e9
    val setupClasses = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // settle: a fixed number of untimed passes, so that the JIT has compiled
    // the driver and task code paths before the first sample (on 4 busy
    // cores its compiler threads lag the set-up by tens of seconds). A count
    // of passes, not a time: on a slow host a timed settle would do less
    // work and leave the samples further up the warm-up slope.
    val settlePasses = if (a.scale == "smoke") 1 else w.settlePasses
    val settled = loop(spark, w, Double.PositiveInfinity, 0, 0, None, settlePasses)
    System.err.println(s"[perfbench] settle passes=${settled.passSeconds.map(p => f"${p._2}%.2f").mkString(",")}")

    // ---- timed region; a traced run interleaves traced and plain passes ----
    val tracer = if (a.trace) Some((new JobListener, new Spans)) else None
    val cpu0 = cpuTicks()
    val timed = loop(spark, w, if (a.trace) 2 * a.seconds else a.seconds, 1, 1000000, tracer)
    val (tracedSamples, plainSamples) = timed.samples.partition(s => a.trace && s.pass % 2 == 1)
    val cpu1 = cpuTicks()
    val stealPct = 100.0 * (cpu1._1 - cpu0._1) / math.max(1L, cpu1._2 - cpu0._2)

    // ---- reference computations, after the timed region ----
    if (a.recordExpected) Expected.record(a.expected, s"${w.name}-${a.scale}", timed.samples)
    var expected = w.expected(spark)
    Caches.flush()
    if (a.plantWrongDigest) {
      val victim = w.ops.head.name
      expected = expected.updated(victim, expected(victim).copy(rows = expected(victim).rows + 1))
    }
    def ok(s: Sample) = s.digest.isDefined && s.digest == expected.get(s.op)
    val all = timed.samples
    all.filterNot(ok).groupBy(_.op).foreach { case (op, bad) =>
      System.err.println(s"[perfbench] $op failed ${bad.size}x: got ${bad.head.digest.getOrElse("throw")}, " +
        s"expected ${expected.get(op).map(_.toString).getOrElse("none")}")
    }
    val failed = all.count(s => !ok(s))

    val good = plainSamples.filter(ok)
    val cleanPasses = timed.passSeconds.filter { case (k, _) => timed.samples.filter(_.pass == k).forall(ok) }
    val (tail, tailPct) = Stats.tail(good.map(_.seconds))
    val opMedians = good.groupBy(_.op).map { case (k, v) => k -> Stats.median(v.map(_.seconds)) }
    // per operation: median seconds, and its build, plan and action parts
    val perOp = good.groupBy(_.op).toSeq.sortBy(_._1).map { case (k, v) =>
      def med(f: Sample => Double) = Stats.median(v.map(f))
      f"${k.takeWhile(_ != '_')}=${med(_.seconds)}%.3f(b${med(_.build)}%.3f,p${med(_.plan)}%.3f,a${med(_.action)}%.3f)"
    }
    System.err.println(f"[perfbench] ${w.name} seed=${a.seed} setup=$setup%.2fs " +
      f"samples=${good.size} passes=${timed.passSeconds.map(p => f"${p._2}%.2f").mkString(",")} " +
      f"tail=$tail%.3fs@p$tailPct%.1f steal=$stealPct%.1f%% failed=$failed/${all.size} " +
      perOp.mkString(" "))

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", setup, "s"),
        // geometric mean over operations of each operation's median: a
        // median over a few unlike operations jumps between them from run
        // to run, and an arithmetic mean is pass_s restated
        ("op_gmean_s", Stats.geomean(opMedians.values.toSeq), "s"),
        ("pass_s", Stats.median(cleanPasses.map(_._2)), "s"))
      case Some((l, sp)) =>
        Layers.metrics(a, w, spark, tracedSamples.filter(ok), l, sp, opMedians, setupParts,
          setupCompileS, setupClasses) :+ ("jvm.peak_rss_mb", peakRssMb(), "MB")
    }
    stop(spark)

    val m = metrics.map { case (k, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${all.size}, "failed": $failed, "metrics": {$m}}""")
  }
}
