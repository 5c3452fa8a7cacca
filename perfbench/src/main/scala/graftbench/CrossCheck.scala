package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** One-off check of `refs.tsv` against the DuckDB oracle. For every
  * referenced `SparkEntry.queries` job it computes the job inline (no
  * artifact routing), compares the digest with the reference, and dumps
  * the table plus its `oracleSql` where `tools/compare.py` reads them:
  *
  *   java -cp "$(cat perfbench/target/bench.classpath)" \
  *     graftbench.CrossCheck perfbench/data perfbench/refs.tsv <out>
  *   python3 tools/compare.py perfbench/data/sf0.1 <out>/sf0.1
  *   python3 tools/compare.py perfbench/data/sf0.01 <out>/sf0.01
  */
object CrossCheck {
  def main(args: Array[String]): Unit = {
    val Array(data, refsFile, out) = args
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val oracles = graft.SparkEntry.oracleSql
    val jobs = Refs.load(Paths.get(refsFile)).toSeq.sortBy(_._1).collect {
      case (key, want) if graft.SparkEntry.queries.contains(key.takeWhile(_ != '@')) =>
        val Array(name, scale) = key.split("@")
        (name, scale, want)
    }
    var same = 0
    jobs.foreach { case (name, scale, want) =>
      val df = graft.SparkEntry.queries(name)(spark, s"$data/$scale")
      val got = Digest.of(Digest.frame(df).collect()(0))
      if (got == want) same += 1
      println(s"${if (got == want) "same" else "DIFFERENT"} $name@$scale $got")
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$scale/$name")
      graft.api.GraftOps.releaseCaches()
      spark.catalog.clearCache()
    }
    jobs.groupBy(_._2).foreach { case (scale, js) =>
      val entries = js.flatMap { case (n, _, _) => oracles.get(n).map(n -> _) }
      Files.writeString(Paths.get(s"$out/$scale/oracle_sql.json"),
        entries.map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",\n", "}"))
    }
    println(s"$same/${jobs.size} inline digests equal their references")
    spark.stop()
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
