package graft.bench

import org.apache.spark.sql.SparkSession

/** The benchmark's one SparkSession: `local[cores]`, one shuffle
  * partition per core, UTC, no UI, graft's SQL extensions, and every
  * temporary path (local dirs, warehouse, checkpoints) under the run's work
  * directory. Logging is cut to errors so that per-query WARN lines (the
  * `locally checkpointed` warnings of the eager pins) stay out of the
  * run log. */
object BenchSession {
  def create(cores: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .appName("graft-benchmark")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The one warm-up before timing: a small query that scans the
    * fixture's `nation` table when the workload reads fixtures (a
    * generated table otherwise), aggregates and sorts. It is kept small
    * because every cold set-up pays for it; the benchmark does not time
    * the first pass over its queries either. */
  def canary(spark: SparkSession, sfDir: Option[String]): Unit = {
    import org.apache.spark.sql.functions._
    val keys = sfDir.map(d => spark.read.parquet(s"$d/nation.parquet")
        .select(col("n_nationkey").cast("long").as("k")))
      .getOrElse(spark.range(0, 25).toDF("k"))
    val rows = keys.groupBy((col("k") % 5).as("g")).agg(count(lit(1)).as("n"))
      .orderBy("g").collect()
    require(rows.length == 5 && rows.forall(_.getLong(1) == 5),
      s"canary returned ${rows.toSeq}, expected 5 groups of 5")
  }
}
