package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession every harness main (Bench, Verify, Probe,
  * ScaleProbe, StreamBench, ServingBootstrap, NightlyCloseout) runs on,
  * so a plan printed by one main, a ratio measured by another and a time
  * recorded by Bench all describe the same session.
  *
  * Environment hooks, applied after the session is built:
  *   - `SPARK_GRAFT_CPUS`: local cores (default: the JVM's available
  *     processors);
  *   - `SPARK_GRAFT_OPEN_COST`: `spark.sql.files.openCostInBytes`;
  *   - `SPARK_GRAFT_MATERIALIZE_MODE=reliable` runs every eager pin
  *     through checkpoint-to-storage (dir `SPARK_GRAFT_CHECKPOINT_DIR`)
  *     instead of `localCheckpoint`, see `Prims.materialize`;
  *   - `SPARK_GRAFT_CONF="k=v;k=v"`: any further session confs, e.g.
  *     `spark.graft.layout.enabled=true` to run a main over the serving
  *     layouts.
  */
object HarnessSession {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Scan-split floor. The 4 MB Spark default also floors split size
    * (maxSplitBytes = min(maxPartitionBytes, max(openCost,
    * totalBytes / defaultParallelism))), which pins every table under
    * 4 MB per core to a near-serial scan. At 64 KB the splits follow
    * the core count instead; on 128 MB+ warehouse files the value is
    * inert. */
  def openCost: Long = sys.env.get("SPARK_GRAFT_OPEN_COST").map(_.trim.toLong)
    .getOrElse(64L * 1024)

  /** The session confs for `cpus` local cores. */
  def confs(cpus: Int, openCost: Long = openCost): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.files.openCostInBytes" -> openCost.toString)

  /** `k=v` pairs of a `SPARK_GRAFT_CONF` value: `;`-separated, split on
    * the first `=`, key and value trimmed; blank entries and entries
    * without a key or `=` are skipped. */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => Some(k.trim -> v.trim)
        case _ => None
      }
    }

  def apply(cpus: Int = cpus, logLevel: String = "WARN"): SparkSession = {
    val builder = SparkSession.builder().withExtensions(new graft.functions.GraftExtensions)
    confs(cpus).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    // releaseAll unpersists local-checkpoint pins on purpose; the RDD
    // loggers warn once per pin that its lineage is gone
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    sys.env.get("SPARK_GRAFT_MATERIALIZE_MODE").foreach { mode =>
      spark.conf.set(graft.ops.Prims.MaterializeModeKey, mode)
      if (mode == "reliable")
        spark.sparkContext.setCheckpointDir(
          sys.env.getOrElse("SPARK_GRAFT_CHECKPOINT_DIR", "/tmp/graft_reliable_ckpt"))
    }
    parseConf(sys.env.getOrElse("SPARK_GRAFT_CONF", "")).foreach { case (k, v) =>
      spark.conf.set(k, v)
    }
    spark
  }
}
