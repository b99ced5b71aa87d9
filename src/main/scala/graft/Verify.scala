package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare
  * (tools/oracle_check.py).
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [<query>...]`. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = HarnessSession()
    // optional trailing names restrict the dump (local iteration on a
    // new query); the driver's two-arg invocation dumps everything
    dump(spark, sfDir, outDir, args.drop(2).toSet)
    spark.stop()
  }

  /** Writes each query's result (only the named ones when `only` is
    * non-empty) to `<outDir>/<query>` as parquet, their oracle SQL to
    * `oracle_sql.json` and any failures to `verify_errors.json`. */
  def dump(spark: SparkSession, sfDir: String, outDir: String, only: Set[String]): Unit = {
    def wanted(name: String) = only.isEmpty || only(name)
    new java.io.File(outDir).mkdirs()
    // Record every declared query's outcome so the snapshot is self-describing:
    // a failing query lands in verify_errors.json with its message instead of
    // being silently absent from the result set.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => wanted(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg.take(500)
      }
      finally HarnessUtil.releaseAll(spark)
    }
    def q(s: String): String = HarnessUtil.jsonQ(s)
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => wanted(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
