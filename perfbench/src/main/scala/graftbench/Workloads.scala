package graftbench

import java.nio.file.Path
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A workload: its set-up, the jobs of one batch in seeded order, and
  * the checks that run after the timed region.
  */
trait Workload {
  /** Directory of the tables the timed jobs read. */
  def dir: String
  /** Nominal length of one batch: a run of `--seconds` measures
    * max(1, round(seconds / nominal)) whole batches, a fixed count, so
    * every run of a workload samples the same work.
    */
  def nominalBatchS: Double
  /** `traced`: the run measures layers, not the cold path. */
  def setUp(r: Runner, traced: Boolean): Unit
  def batch(rng: Random): Seq[Job]
  def finish(r: Runner): Unit = ()
}

object Workload {
  /** Scale of the tables the query workloads read. */
  val Scale = "sf0.1"
  /** Scale of the artifact cycle: at sf0.1 one cycle takes ~35 s, more
    * than a run can hold with its set-up and checks.
    */
  val ArtifactScale = "sf0.01"

  /** Relational, event-analytics and validation jobs over the star
    * schema plus `events`: ten of the 202 q, e and v jobs, drawn by
    * `perfbench/survey.py` from a traced pass over the whole family,
    * stratified by footer-job count and driver-side share so that the
    * sample's layer split is the family's. Written out so that jobs added
    * to the program later do not change the workload.
    */
  val EtlStar: Seq[String] = Seq(
    "e42_load_profile", "q29_percentile", "q42_outer_distribution",
    "q48_string_agg", "q52_regexp_extract", "q58_balanced_sample",
    "q61_ratio_to_report", "q91_skew_audit", "v04_psi_drift",
    "v21_train_serve_skew")

  /** Jobs that read the dedup and graph artifacts when routing is on: one
    * reader of each artifact table (verified pairs, cluster labels,
    * manifest, BPE merges, the doomed set of a filtered corpus, graph
    * pairs, component labels), plus three more short readers of the pairs
    * and labels (d32, d33, t09). With those, ten audits and three artifact
    * calls, the run's job median falls among audits of similar length
    * rather than across the gap between the short and the long audits.
    */
  val Audits: Seq[String] = Seq(
    "d03", "d08", "d15", "p01", "t41", "g02", "g04", "d32", "d33", "t09")
  val AuditPasses = 3

  def apply(name: String, spark: SparkSession, o: Main.Opts): Workload = {
    val data = o.data
    name match {
      case "etl_star"       => new Queries(spark, data, EtlStar)
      case "artifact_cycle" => new ArtifactCycle(spark, data, o.work, o.seed)
      case other            => sys.error(s"unknown workload $other")
    }
  }

  /** Resolves a family prefix such as "g02" to the full query name. */
  def resolve(names: Seq[String]): Seq[String] = {
    val all = graft.SparkEntry.queries.keySet
    names.map { n =>
      if (all(n)) n
      else all.filter(_.startsWith(n + "_")).toSeq match {
        case Seq(one) => one
        case other    => sys.error(s"job $n matches ${other.sorted}")
      }
    }
  }

  /** Set-up of the query workload: one scan of each table (as
    * `graft.Bench` does), then one untimed pass of every job at the
    * timed scale on one thread per core (code generation), then one
    * untimed pass on the client thread (JIT warm-up of the sequential
    * path). A pass at a smaller scale is not enough (plan shapes differ
    * with table size; first timed runs read 1.4-2x their later runs
    * after one), nor are parallel passes alone (the first timed batch
    * after two of them read 20-40% slower than the next one).
    */
  def warm(spark: SparkSession, r: Runner, dir: String, jobs: Seq[String],
           cores: Int): Unit = {
    Runner.Tables.filter(_ != "events")
      .foreach(t => graft.Tables.read(spark, dir, t).count())
    graft.Tables.events(spark, dir).count()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val all = jobs.map { n =>
        Future {
          // a job that fails here fails again, and is counted, when timed
          try Digest.frame(graft.SparkEntry.queries(n)(spark, dir)).collect()
          catch { case _: Throwable => () }
        }
      }
      Await.result(Future.sequence(all), Duration.Inf)
    } finally pool.shutdown()
    jobs.foreach(n => r.warm(QueryJob(n, dir, "")))
    System.gc()
  }
}

/** A fixed set of `SparkEntry.queries` jobs; the seed sets their order. */
final class Queries(spark: SparkSession, data: Path, names: Seq[String])
    extends Workload {
  import Workload._
  val dir: String = data.resolve(Scale).toString
  val nominalBatchS = 10.0
  private val jobs = resolve(names)

  def setUp(r: Runner, traced: Boolean): Unit =
    warm(spark, r, dir, jobs, spark.sparkContext.defaultParallelism)

  def batch(rng: Random): Seq[Job] =
    rng.shuffle(jobs).map(n => QueryJob(n, dir, s"$n@$Scale"))
}

/** Writes beside reads: build the dedup and graph artifacts, run the
  * audits that read them (three passes in seeded order), then apply a
  * seeded increment with `updateDedupArtifacts`. Each batch builds into a
  * fresh directory, because artifact tables are immutable snapshots.
  */
final class ArtifactCycle(spark: SparkSession, data: Path, work: Path,
                          seed: Long) extends Workload {
  import Workload._
  val dir: String = data.resolve(ArtifactScale).toString
  val nominalBatchS = 30.0
  private val audits = resolve(Audits)
  private var cycle = 0
  private var increment: DataFrame = _
  private var lastLocation: String = _

  private def route(base: Path): Unit = {
    spark.conf.set("graft.dedup.artifacts", base.toString)
    spark.conf.set("graft.graph.artifacts", base.resolve("graph").toString)
  }

  /** One cycle's jobs, routed to a fresh artifact directory. The update's
    * summary depends on the seed, so it is checked in `finish` instead.
    */
  private def cycleJobs(order: Seq[String]): Seq[Job] = {
    cycle += 1
    route(work.resolve(s"artifacts/$cycle"))
    val loc = graft.api.DedupArtifactStore.location(spark, dir).get
    lastLocation = loc
    def ref(n: String) = Some(s"$n@$ArtifactScale")
    Seq(
      CallJob("artifact.dedup_build", "dedup_build", ref("artifact.dedup_build"),
        () => graft.api.DedupArtifactStore.buildFor(spark, dir).get),
      CallJob("artifact.graph_build", "graph_build", ref("artifact.graph_build"),
        () => graft.api.GraphArtifactStore.buildFor(spark, dir).get)) ++
      order.map(n => QueryJob(n, dir, s"$n@$ArtifactScale", audit = true)) ++
      Seq(CallJob("artifact.update", "update", None,
        () => graft.api.GraftOps.updateDedupArtifacts(increment, col("doc_id"),
          col("text"), loc)))
  }

  /** No warm-up: a cleaning run builds its artifacts once per JVM, so
    * the timed cycle pays table resolution and code generation as that
    * run does. The traced run warms with one untimed cycle, so that its
    * untraced and traced cycles compare like with like.
    */
  def setUp(r: Runner, traced: Boolean): Unit = {
    increment = Increment(spark, dir, seed)
    if (traced) cycleJobs(audits).foreach(r.warm)
    System.gc()
  }

  /** The audits run `AuditPasses` times, each pass in its own seeded
    * order, so each audit's per-run median rests on more than one sample.
    */
  def batch(rng: Random): Seq[Job] =
    cycleJobs(Seq.fill(AuditPasses)(rng.shuffle(audits)).flatten)

  /** The updated tables must equal a full rebuild over base ∪ increment
    * (the identity `DedupArtifactsSpec` pins), computed here, untimed.
    */
  override def finish(r: Runner): Unit = {
    val full = work.resolve("artifacts/full").toString
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
      .unionByName(increment)
    graft.api.GraftOps.dedupArtifacts(docs, col("doc_id"), col("text"), full)
    def digest(loc: String, t: String) =
      Digest.of(Digest.frame(graft.sources.SnapshotTable.read(spark, s"$loc/$t")).collect()(0))
    val bad = Seq("pairs", "labels", "manifest", "signatures", "docmeta")
      .filter(t => digest(lastLocation, t) != digest(full, t))
    if (bad.nonEmpty) {
      r.failed += 1
      System.err.println(s"MISMATCH artifact.update: ${bad.mkString(",")} differ from a full rebuild")
    }
    r.release()
  }
}

/** The seeded increment for `updateDedupArtifacts`: a sample of corpus
  * documents with word edits (some stay near-duplicates, some drift away,
  * some are copied verbatim) plus fresh documents, with ids above the
  * corpus maximum.
  */
object Increment {
  val Size = 200
  /** Expected share of edited corpus documents; fixed, so that the seed
    * changes which documents and edits, not how much merge work.
    */
  val NearShare = 0.5

  def apply(spark: SparkSession, dir: String, seed: Long): DataFrame = {
    val docs = graft.Tables.documents(spark, dir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val vocab = docs.flatMap(_._2.split(" ")).distinct.sorted
    val rng = new Random(seed)
    val maxId = docs.map(_._1).max
    val rows = (1 to Size).map { i =>
      val text =
        if (rng.nextDouble() < NearShare) {
          val words = docs(rng.nextInt(docs.length))._2.split(" ").toBuffer
          val edits = (words.size * 0.4 * rng.nextDouble()).toInt
          (0 until edits).foreach { _ =>
            val at = rng.nextInt(words.size)
            rng.nextInt(3) match {
              case 0 => words(at) = vocab(rng.nextInt(vocab.length))
              case 1 => words.insert(at, vocab(rng.nextInt(vocab.length)))
              case _ => if (words.size > 3) words.remove(at)
            }
          }
          words.mkString(" ")
        } else Seq.fill(20 + rng.nextInt(40))(vocab(rng.nextInt(vocab.length))).mkString(" ")
      (maxId + i, text)
    }
    spark.createDataFrame(rows).toDF("doc_id", "text")
  }
}
