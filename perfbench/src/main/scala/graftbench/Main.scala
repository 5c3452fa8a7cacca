package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one JVM, one client thread in a
  * closed loop. See perfbench/README.md for the workloads and metrics.
  *
  * Timeline: set-up (session, table warm-up, codegen warm-up of every
  * job at the small scale) -> timed batches until `--seconds` have
  * passed -> untimed checks -> one JSON line on stdout.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, cores: Int, data: Path, work: Path,
                        refs: Path, out: Path, record: Boolean)

  private def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--cores").toInt, Paths.get(need("--data")),
      Paths.get(need("--work")), Paths.get(need("--refs")),
      Paths.get(need("--out")), m.get("--record").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(argv)
    val spark = session(o.cores, o.work)
    val code =
      try run(o, spark, jvmStartMs)
      finally spark.stop()
    sys.exit(code)
  }

  /** The session `graft.Bench` measures under: local[cores] with one
    * shuffle partition per core, AQE and skew-join on, UTC, no UI.
    */
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "90s")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(o: Opts, spark: SparkSession, jvmStartMs: Long): Int = {
    val refs = Refs.load(o.refs)
    val wl = Workload(o.workload, spark, o)
    val runner = new Runner(spark, refs, o.cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    wl.setUp(runner, o.trace)

    if (o.record) {
      // reference mode: one pass of every job, digests written as the
      // expected values (run once at a known-good commit)
      runner.recording = true
      wl.batch(new scala.util.Random(o.seed)).foreach(runner.run(_, traced = false))
      wl.finish(runner)
      Refs.save(o.refs, refs ++ runner.recorded)
      println(s"recorded ${runner.recorded.size} references")
      return 0
    }

    if (o.trace) runner.probeTables(wl.dir)
    val firstJobMs = System.currentTimeMillis()
    val setupS = (firstJobMs - jvmStartMs) / 1000.0

    val rng = new scala.util.Random(o.seed)
    val k = math.max(1, math.round(o.seconds / wl.nominalBatchS).toInt)
    val plain = mutable.ArrayBuffer.empty[Double]   // untraced batch seconds
    val traced = mutable.ArrayBuffer.empty[Double]
    val gc0 = gcMs()
    var tracedGc = 0L
    // the traced run puts an untraced batch before and after each traced
    // one (U T U ... U), so that warming over the run does not side with
    // either: the difference of their medians is the tracing overhead.
    // Half as many traced batches as a timed run has keep it near the
    // timed run's length.
    val plan =
      if (o.trace) false +: Seq.fill(math.max(1, k / 2))(Seq(true, false)).flatten
      else Seq.fill(k)(false)
    plan.foreach { tracing =>
      val jobs = wl.batch(rng)
      runner.beginBatch(tracing)
      val g0 = gcMs()
      val t0 = System.nanoTime()
      jobs.foreach(runner.run(_, tracing))
      val dt = (System.nanoTime() - t0) / 1e9
      if (tracing) { traced += dt; tracedGc += gcMs() - g0 } else plain += dt
      runner.endBatch(tracing)
    }
    val gcTotal = gcMs() - gc0
    wl.finish(runner)

    runner.release()
    val heapMb = retainedHeapMb()

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        // each job's median over the run's batches, then quantiles across
        // jobs: one slow sample of one job does not move them
        val perJob = runner.samples.groupBy(_._1).values
          .map(s => Stats.median(s.map(_._2).toVector)).toVector
        Seq(
          ("setup_s", setupS, "s"),
          ("batch_s", Stats.median(plain.toVector), "s"),
          ("job_p50_s", Stats.quantile(perJob, 0.5), "s"),
          ("job_p90_s", Stats.quantile(perJob, 0.9), "s"),
          ("heap_retained_mb", heapMb, "MB"))
      } else {
        val n = traced.size.toDouble
        val layer = runner.layerTotals.toSeq.map { case (k, v) =>
          (k, v / n, Metrics.unit(k)) }
        layer ++ Seq(
          ("exec.core_util", runner.coreUtil, "ratio"),
          ("jvm.driver_gc_ms", tracedGc / n, "ms"),
          ("trace.overhead_ms",
            (Stats.median(traced.toVector) - Stats.median(plain.toVector)) * 1000, "ms"),
          ("tables.resolve_ms", runner.resolveMs, "ms"))
      }
    if (o.trace) {
      val file = runner.writeTrace(o.out, o.workload, o.seed, setupS,
        plain.toVector, traced.toVector)
      System.err.println(s"trace rows written to $file")
      runner.checkFailures.foreach(f => System.err.println(s"TRACE CHECK $f"))
    }
    runner.samples.foreach { case (n, w) => println(f"job $n%-28s $w%.3f s") }
    println(f"seed ${o.seed} workload ${o.workload} session ${sessionS}%.1fs setup ${setupS}%.1fs batches " +
      f"${plain.size + traced.size} jobs ${runner.attempted} " +
      f"job samples ${runner.samples.size} gc ${gcTotal}ms")
    val traceOk = !o.trace || runner.checkFailures.isEmpty
    val correct = runner.failed == 0 && traceOk
    val ms = metrics.sortBy(_._1).map { case (k, v, u) =>
      s""""$k": {"value": ${Metrics.num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": ${runner.attempted}, """ +
      s""""failed": ${runner.failed}, "metrics": {${ms.mkString(", ")}}}""")
    0
  }

  /** Driver heap in use after full GCs, repeated while it still falls:
    * Spark's context cleaner drops the shuffle and broadcast state of
    * collected plans only after a GC has found them unreachable.
    */
  private def retainedHeapMb(): Double = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = used()
    var cur = prev
    var rounds = 0
    while ({ Thread.sleep(250); prev = cur; cur = used(); rounds += 1
             rounds < 8 && cur < prev - 0.5 }) ()
    System.err.println(f"heap settled after $rounds rounds at $cur%.1f MB")
    cur
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
}

object Stats {
  def median(xs: Vector[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Vector[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Metrics {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def unit(name: String): String =
    if (name.endsWith("_ms") || name == "exec.ms" || name == "build.ms") "ms"
    else if (name.endsWith("_mb") || name == "cache.mb") "MB"
    else if (name.endsWith("_rows")) "rows"
    else "count"
}
