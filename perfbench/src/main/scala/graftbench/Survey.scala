package graftbench

import java.nio.file.Paths
import graft.SparkEntry

/** One traced pass over a whole job family, made outside the benchmark
  * runs, to compare a workload's job sample with the family it stands
  * for. Set-up as `etl_star`'s (table scans, a parallel and a sequential
  * untimed pass of every job), then one traced pass; the layer rows go
  * to `<out>/survey-<prefixes>-seed0.jsonl`, which `perfbench/survey.py`
  * reads:
  *
  *   java <the --add-opens of run.py> -Xmx4g \
  *     -cp "$(cat perfbench/target/bench.classpath)" \
  *     graftbench.Survey perfbench/data/sf0.1 qev <work dir> <out dir>
  */
object Survey {
  def main(args: Array[String]): Unit = {
    val Array(dir, prefixes, work, out) = args
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Main.session(cores, Paths.get(work))
    try {
      val jobs = SparkEntry.queries.keys.toSeq.sorted
        .filter(n => n.length > 1 && prefixes.contains(n.head) && n(1).isDigit)
      val r = new Runner(spark, Map.empty, cores)
      r.recording = true
      Workload.warm(spark, r, dir, jobs, cores)
      r.beginBatch(true)
      jobs.foreach(n => r.run(QueryJob(n, dir, n), traced = true))
      r.endBatch(true)
      val f = r.writeTrace(Paths.get(out), s"survey-$prefixes", 0, 0.0, Nil, Nil)
      println(s"${jobs.size} jobs, ${r.failed} failed, " +
        s"${r.checkFailures.size} failed the layer check; rows in $f")
      r.checkFailures.foreach(c => println(s"TRACE CHECK $c"))
    } finally spark.stop()
  }
}
