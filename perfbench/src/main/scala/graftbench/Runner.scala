package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graftbench.Collector.covered

/** A unit of timed work: one `SparkEntry.queries` entry, or one call
  * into the artifact API whose result is its summary frame.
  */
sealed trait Job { def name: String }

/** `ref` keys the expected digest; `audit` marks an artifact reader. */
final case class QueryJob(name: String, dir: String, ref: String,
                          audit: Boolean = false) extends Job

/** `layer` names the sources metric its span feeds (`sources.<layer>_ms`). */
final case class CallJob(name: String, layer: String, ref: Option[String],
                         call: () => DataFrame) extends Job

/** Order-independent digest over every output column: a sum of
  * `xxhash64(to_json(struct(*)))` plus the row count. Unlike `count()`,
  * Catalyst cannot prune any output column out of it.
  */
object Digest {
  final case class Value(rows: Long, hash: BigDecimal) {
    override def toString = s"$rows\t$hash"
  }

  def frame(df: DataFrame): DataFrame =
    df.agg(sum(xxhash64(to_json(struct(col("*")))).cast("decimal(38,0)")),
      count(lit(1)))

  def of(r: Row): Value =
    Value(r.getLong(1), Option(r.getDecimal(0)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
}

/** Expected digests, one `key <TAB> rows <TAB> hash` line each. */
object Refs {
  def load(p: Path): Map[String, Digest.Value] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
      val Array(k, n, h) = l.split("\t")
      k -> Digest.Value(n.toLong, BigDecimal(h))
    }.toMap

  def save(p: Path, refs: Map[String, Digest.Value]): Unit =
    Files.write(p, refs.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" }
      .mkString("", "\n", "\n").getBytes("UTF-8"))
}

/** Runs jobs, checks their outputs, and in the traced run turns each
  * job's spans and listener events into one layer row.
  */
final class Runner(spark: SparkSession, refs: Map[String, Digest.Value],
                   cores: Int) {
  import Runner._

  private val sc = spark.sparkContext
  private val collector = new Collector
  private var seq = 0
  private var batch = 0
  var attempted = 0
  var failed = 0
  var recording = false
  val recorded = mutable.LinkedHashMap.empty[String, Digest.Value]
  /** (job, wall seconds) of every timed job, in run order. */
  val samples = mutable.ArrayBuffer.empty[(String, Double)]
  val rows = mutable.ArrayBuffer.empty[Json.Raw]
  val checkFailures = mutable.ArrayBuffer.empty[String]
  val layerTotals: mutable.LinkedHashMap[String, Double] =
    mutable.LinkedHashMap(LayerMetrics.map(_ -> 0.0): _*)
  private var execWallMs = 0.0
  var resolveMs = 0.0

  /** Mean wall time of one `Tables.read` per table, outside every job. */
  def probeTables(dir: String): Unit = {
    val ts = Tables.map { t =>
      val t0 = System.nanoTime()
      if (t == "events") graft.Tables.events(spark, dir)
      else graft.Tables.read(spark, dir, t)
      (System.nanoTime() - t0) / 1e6
    }
    resolveMs = ts.sum / ts.size
  }

  def release(): Unit = {
    graft.api.GraftOps.releaseCaches()
    spark.catalog.clearCache()
  }

  /** The listener is attached only around traced batches, so untraced
    * batches pay no listener callbacks.
    */
  def beginBatch(traced: Boolean): Unit = if (traced) {
    drain()
    sc.addSparkListener(collector)
  }

  def endBatch(traced: Boolean): Unit = if (traced) {
    drain()
    sc.removeSparkListener(collector)
    collector.take()
    batch += 1
  }

  /** Runs one job untimed and unchecked (set-up); failures are ignored,
    * the timed run counts them.
    */
  def warm(job: Job): Unit = {
    try job match {
      case q: QueryJob =>
        Digest.frame(graft.SparkEntry.queries(q.name)(spark, q.dir)).collect()
      case c: CallJob => Digest.frame(c.call()).collect()
    } catch { case _: Throwable => () }
    release()
  }

  /** Runs one job; failures are counted, never thrown. */
  def run(job: Job, traced: Boolean): Unit = {
    attempted += 1
    seq += 1
    if (traced) { drain(); collector.take() }
    try job match {
      case q: QueryJob => runQuery(q, traced)
      case c: CallJob  => runCall(c, traced)
    } catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"FAILED ${job.name}: ${e.toString.take(400)}")
        sc.setLocalProperty(Collector.SegmentKey, null)
        release()
    }
  }

  private def drain(): Unit = org.apache.spark.graftbench.Bus.drain(sc)

  private def tag(traced: Boolean, seg: String): Unit =
    if (traced) sc.setLocalProperty(Collector.SegmentKey,
      if (seg == null) null else s"$seq/$seg")

  private def check(name: String, ref: String, got: Digest.Value): Unit =
    if (recording) recorded(ref) = got
    else refs.get(ref) match {
      case Some(want) if want == got => ()
      case Some(want) =>
        failed += 1
        System.err.println(s"MISMATCH $name: got $got, want $want")
      case None =>
        failed += 1
        System.err.println(s"NO REFERENCE for $ref")
    }

  private def runQuery(q: QueryJob, traced: Boolean): Unit = {
    val fn = graft.SparkEntry.queries(q.name)
    tag(traced, "build")
    val b0 = System.nanoTime()
    val df = fn(spark, q.dir)
    val b1 = System.nanoTime()
    tag(traced, "action")
    val d = Digest.frame(df)
    val r = d.collect()(0)
    val a1 = System.nanoTime()
    val a1Ms = System.currentTimeMillis()
    tag(traced, null)
    val wall = (a1 - b0) / 1e9
    samples += q.name -> wall
    check(q.name, q.ref, Digest.of(r))
    if (!traced) { release(); return }

    val cache = sc.getRDDStorageInfo
    val r0 = System.nanoTime(); graft.api.GraftOps.releaseCaches()
    val r1 = System.nanoTime()
    val untracked = sc.getRDDStorageInfo.length
    val r2 = System.nanoTime(); spark.catalog.clearCache()
    val r3 = System.nanoTime()
    val releaseMs = ((r1 - r0) + (r3 - r2)) / 1e6
    drain()
    val obs = collector.take()

    val buildJobs = obs.jobsIn(s"$seq/build")
    val tablesJobs = buildJobs.filter(_.fromTables)
    val tablesMs = covered(tablesJobs.map(j => (j.start, j.end))).toDouble
    val buildSpan = (b1 - b0) / 1e6
    // Catalyst phases from the action's QueryExecution tracker; execution
    // from the SQL execution events Spark posts for the execution the
    // action's jobs ran under, less the Catalyst phases inside it (Spark
    // posts the start before it optimizes and plans). Both are measured
    // apart from the harness's wall clock.
    val phases = d.queryExecution.tracker.phases
    def phase(p: String): Double =
      phases.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
    val (an, op, pl) = (phase("analysis"), phase("optimization"), phase("planning"))
    val actionJobs = obs.jobsIn(s"$seq/action")
    val sqlExec = obs.execSpan(actionJobs)
    if (sqlExec.isEmpty) checkFailures += s"${q.name}: no SQL execution event"
    val (execStart, execEnd) = sqlExec.getOrElse((a1Ms, a1Ms))
    val catalystInExec = covered(phases.values.toSeq.map(p =>
      (math.max(p.startTimeMs, execStart), math.min(p.endTimeMs, execEnd))))
    val execMs = (execEnd - execStart - catalystInExec).toDouble
    val actionStages = obs.stagesOf(actionJobs)
    val busy = covered(actionStages.map(s =>
      (math.max(s.submit, execStart), math.min(s.complete, execEnd)))).toDouble
    val idle = math.max(0.0, execMs - busy)
    // the check: the layers, each measured on its own, must add up to
    // the harness's build-to-release wall time within 10%
    val wallMs = wall * 1000 + releaseMs
    val parts = buildSpan + an + op + pl + execMs + releaseMs
    val ok = sqlExec.nonEmpty && math.abs(wallMs - parts) <= 0.1 * wallMs
    if (!ok) checkFailures += f"${q.name}: layers $parts%.1f ms vs wall $wallMs%.1f ms"

    add("tables.jobs", tablesJobs.size)
    add("tables.job_ms", tablesMs)
    add("build.ms", buildSpan - tablesMs)
    add("build.jobs", buildJobs.size)
    add("catalyst.analysis_ms", an)
    add("catalyst.optimization_ms", op)
    add("catalyst.planning_ms", pl)
    add("exec.ms", execMs)
    add("exec.driver_idle_ms", idle)
    execWallMs += execMs
    addExec(actionJobs, actionStages)
    addCache(cache, untracked, releaseMs)
    if (q.audit) add("sources.audit_ms", wall * 1000)

    rows += Json.obj(
      "batch" -> batch, "seq" -> seq, "job" -> q.name, "kind" -> "query",
      "wall_ms" -> wallMs, "unattributed_ms" -> (wallMs - parts),
      "check_ok" -> ok,
      "build" -> Json.obj("ms" -> buildSpan, "self_ms" -> (buildSpan - tablesMs),
        "tables_jobs" -> tablesJobs.size, "tables_job_ms" -> tablesMs,
        "jobs" -> Json.arr(buildJobs.map(jobJson))),
      "catalyst" -> Json.obj("analysis_ms" -> an, "optimization_ms" -> op,
        "planning_ms" -> pl),
      "exec" -> Json.obj("ms" -> execMs, "driver_idle_ms" -> idle,
        "jobs" -> Json.arr(actionJobs.map(jobJson)),
        "stages" -> Json.arr(actionStages.map(stageJson))),
      "cache" -> Json.obj("rdds" -> cache.length,
        "mb" -> cacheMb(cache), "untracked_rdds" -> untracked,
        "release_ms" -> releaseMs))
  }

  private def runCall(c: CallJob, traced: Boolean): Unit = {
    tag(traced, "call")
    val c0 = System.nanoTime()
    val r = Digest.frame(c.call()).collect()(0)
    val c1 = System.nanoTime()
    tag(traced, null)
    val wall = (c1 - c0) / 1e9
    samples += c.name -> wall
    c.ref.foreach(check(c.name, _, Digest.of(r)))
    if (!traced) { release(); return }

    val cache = sc.getRDDStorageInfo
    val r0 = System.nanoTime(); graft.api.GraftOps.releaseCaches()
    val r1 = System.nanoTime()
    val untracked = sc.getRDDStorageInfo.length
    val r2 = System.nanoTime(); spark.catalog.clearCache()
    val r3 = System.nanoTime()
    val releaseMs = ((r1 - r0) + (r3 - r2)) / 1e6
    drain()
    val obs = collector.take()
    val jobs = obs.jobsIn(s"$seq/call")
    val stages = obs.stagesOf(jobs)
    val callMs = wall * 1000
    val busy = covered(stages.map(s => (s.submit, s.complete))).toDouble
    add(s"sources.${c.layer}_ms", callMs)
    add("sources.output_mb", stages.map(_.outputBytes).sum / MB)
    add("sources.output_rows", stages.map(_.outputRecords).sum.toDouble)
    add("exec.driver_idle_ms", math.max(0.0, callMs - busy))
    execWallMs += callMs
    addExec(jobs, stages)
    addCache(cache, untracked, releaseMs)
    rows += Json.obj(
      "batch" -> batch, "seq" -> seq, "job" -> c.name, "kind" -> "call",
      "wall_ms" -> (callMs + releaseMs), "check_ok" -> true,
      "sources" -> Json.obj("layer" -> c.layer, "ms" -> callMs,
        "jobs" -> Json.arr(jobs.map(jobJson)),
        "stages" -> Json.arr(stages.map(stageJson))),
      "cache" -> Json.obj("rdds" -> cache.length, "mb" -> cacheMb(cache),
        "untracked_rdds" -> untracked, "release_ms" -> releaseMs))
  }

  private def add(k: String, v: Double): Unit =
    layerTotals(k) = layerTotals.getOrElse(k, 0.0) + v

  private def addExec(jobs: Seq[Collector.JobRec],
                      stages: Seq[Collector.StageRec]): Unit = {
    add("exec.jobs", jobs.size)
    add("exec.stages", stages.size)
    add("exec.tasks", stages.map(_.tasks).sum.toDouble)
    add("exec.cpu_ms", stages.map(_.cpuNs).sum / 1e6)
    add("exec.run_ms", stages.map(_.runMs).sum.toDouble)
    add("exec.gc_ms", stages.map(_.gcMs).sum.toDouble)
    add("exec.single_task_stage_ms",
      stages.filter(_.tasks == 1).map(_.ms).sum.toDouble)
    add("exec.input_mb", stages.map(_.inputBytes).sum / MB)
    add("exec.shuffle_read_mb", stages.map(_.shuffleRead).sum / MB)
    add("exec.shuffle_write_mb", stages.map(_.shuffleWrite).sum / MB)
    add("exec.spill_mb", stages.map(_.spillBytes).sum / MB)
  }

  /** Executor run time over cores × execution wall time. */
  def coreUtil: Double =
    if (execWallMs <= 0) 0.0 else layerTotals("exec.run_ms") / (cores * execWallMs)

  private def addCache(cache: Array[org.apache.spark.storage.RDDInfo],
                       untracked: Int, releaseMs: Double): Unit = {
    add("cache.rdds", cache.length)
    add("cache.mb", cacheMb(cache))
    add("cache.untracked_rdds", untracked)
    add("cache.release_ms", releaseMs)
  }

  private def cacheMb(cache: Array[org.apache.spark.storage.RDDInfo]): Double =
    cache.map(i => i.memSize + i.diskSize).sum / MB

  private def jobJson(j: Collector.JobRec): Json.Raw =
    Json.obj("id" -> j.id, "ms" -> j.ms, "tables" -> j.fromTables)

  private def stageJson(s: Collector.StageRec): Json.Raw =
    Json.obj("id" -> s.id, "tasks" -> s.tasks, "ms" -> s.ms,
      "cpu_ms" -> s.cpuNs / 1e6)

  /** Writes the held rows once, at the end of the run. */
  def writeTrace(dir: Path, workload: String, seed: Long, setupS: Double,
                 plain: Seq[Double], traced: Seq[Double]): Path = {
    Files.createDirectories(dir)
    val f = dir.resolve(s"$workload-seed$seed.jsonl")
    val head = Json.obj("workload" -> workload, "seed" -> seed,
      "setup_s" -> setupS, "untraced_batch_s" -> Json.arr(plain.map(Json.num)),
      "traced_batch_s" -> Json.arr(traced.map(Json.num)),
      "exec.core_util" -> coreUtil,
      "layers_per_batch" -> Json.obj(layerTotals.toSeq.map { case (k, v) =>
        k -> v / math.max(1, traced.size) }: _*))
    Files.write(f, (head +: rows).mkString("", "\n", "\n").getBytes("UTF-8"))
    f
  }
}

object Runner {
  val MB: Double = 1024.0 * 1024.0

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents", "embeddings", "events")

  /** The per-layer sums the traced run reports per traced batch. */
  val LayerMetrics: Seq[String] = Seq(
    "tables.jobs", "tables.job_ms",
    "build.ms", "build.jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.ms", "exec.jobs", "exec.stages", "exec.tasks", "exec.cpu_ms",
    "exec.run_ms", "exec.gc_ms", "exec.single_task_stage_ms",
    "exec.driver_idle_ms", "exec.input_mb", "exec.shuffle_read_mb",
    "exec.shuffle_write_mb", "exec.spill_mb",
    "cache.rdds", "cache.mb", "cache.untracked_rdds", "cache.release_ms",
    "sources.dedup_build_ms", "sources.graph_build_ms", "sources.update_ms",
    "sources.audit_ms", "sources.output_mb", "sources.output_rows")
}

/** Minimal JSON writer for the trace rows. */
object Json {
  /** Already-encoded JSON. */
  final case class Raw(s: String) { override def toString = s }

  def num(v: Double): Raw = Raw(Metrics.num(v))

  private def value(v: Any): String = v match {
    case Raw(s)     => s
    case s: String  => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double  => Metrics.num(d)
    case b: Boolean => b.toString
    case n: Number  => n.toString
    case other      => "\"" + other.toString + "\""
  }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => "\"" + k + "\": " + value(v) }.mkString("{", ", ", "}"))

  def arr(xs: Seq[Raw]): Raw = Raw(xs.mkString("[", ", ", "]"))
}
