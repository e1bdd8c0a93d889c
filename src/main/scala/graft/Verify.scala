package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val nCpus = GraftSession.envCores
    val spark = GraftSession.batch(s"local[$nCpus]", nCpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local iteration aid (same idea as Bench's SPARK_GRAFT_BENCH_ONLY):
    // comma-separated name substrings; unset = full gate
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").toSeq).getOrElse(Nil)
    def selected(name: String) =
      only.isEmpty || only.exists(name.contains)
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${Bench.describe(e)}")
      }
    }
    val json = SparkEntry.oracleSql.filter(q => selected(q._1))
      .map { case (k, v) => Bench.jsonString(k) + ": " + Bench.jsonString(v) }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
