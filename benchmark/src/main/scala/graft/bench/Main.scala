package graft.bench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One benchmark process. `run.py` starts it with `key=value` arguments
  * and reads the JSON record it writes to `out=`:
  *
  *  - `mode=run`: set up, then time one workload (`dataflow` or
  *    `stream_stateful`), traced or not;
  *  - `mode=golden`: run a batch workload once in name order and record
  *    each query's fingerprint, optionally dumping results as parquet.
  *
  * `spawn_ms` is the wall-clock time at which the parent started this
  * JVM, so the set-up covers JVM start, session and canary. */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val args = argv.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String): String = args.getOrElse(k, sys.error(s"missing argument $k="))
    val mode = arg("mode")
    val cores = Runtime.getRuntime.availableProcessors
    val workDir = arg("work")
    val spawnMs = args.get("spawn_ms").map(_.toDouble).getOrElse(
      ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)

    val spark = BenchSession.create(cores, workDir)
    BenchSession.canary(spark, args.get("sf"))
    val setupS = (System.currentTimeMillis() - spawnMs) / 1000.0
    val setupSteal = Stamp(0L, args.get("spawn_steal").map(_.toLong).getOrElse(0L),
      args.get("spawn_ticks").map(_.toLong).getOrElse(0L)).stealTo(Stamp.now())
    val record: Map[String, Any] = mode match {
      case "run" | "golden" =>
        val workload = arg("workload")
        val traced = args.get("trace").contains("1")
        val tracer = if (traced) Some(new Tracer(spark)) else None
        val gc0 = gcSeconds
        val body: Map[String, Any] = workload match {
          case "dataflow" if mode == "golden" =>
            val results = Batch.pass(spark, arg("sf"), Batch.Dataflow.sorted, None, 0L)
            args.get("dump").foreach(dir => dump(spark, arg("sf"), dir, results))
            Map("passes" -> Seq(Batch.passRecord(results, traced = false, cold = true)))
          case "dataflow" =>
            Batch.run(spark, arg("sf"), Batch.Dataflow, arg("seed").toLong,
              arg("seconds").toDouble, tracer)
          case "stream_stateful" =>
            Stream.run(spark, arg("seed").toLong, arg("seconds").toDouble,
              args.get("scale").map(_.toDouble).getOrElse(1.0),
              args.get("open_batches").map(_.toInt).getOrElse(0),
              args.get("rate").map(_.toInt).getOrElse(Stream.OfferedRate), workDir, tracer)
          case other => sys.error(s"unknown workload $other")
        }
        val gcS = gcSeconds - gc0
        val traceFields = tracer.map { tr =>
          val spansFile = s"$workDir/trace_spans.json"
          mapper.writeValue(new java.io.File(spansFile), tr.spanRecords)
          Map("totals" -> tr.totalsSnapshot, "spans_file" -> spansFile)
        }.getOrElse(Map.empty)
        body ++ traceFields + ("gc_s" -> gcS)
      case other => sys.error(s"unknown mode $other")
    }
    val out = record ++ Map("setup_s" -> setupS, "setup_steal" -> setupSteal, "cores" -> cores,
      "rss_hwm_mb" -> rssHighWaterMb)
    mapper.writeValue(new java.io.File(arg("out")), out)
    spark.stop()
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  /** `VmHWM` of this process: its resident-set high-water mark. */
  private def rssHighWaterMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  /** Writes each query's result as parquet under `dir/<name>`, the layout
    * `tools/oracle_check.py` compares against DuckDB. */
  private def dump(spark: org.apache.spark.sql.SparkSession, sfDir: String, dir: String,
                   results: Seq[Batch.Result]): Unit = {
    results.filter(_.error.isEmpty).foreach { r =>
      graft.SparkEntry.queries(r.name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/${r.name}")
      graft.HarnessUtil.releaseAll(spark)
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => results.exists(_.name == k) }
    mapper.writeValue(new java.io.File(s"$dir/oracle_sql.json"), oracle)
  }
}

/** One instant of the wall clock and of the machine's CPU accounting
  * (`/proc/stat`), so that a timed interval also tells which share of the
  * machine's CPU time the hypervisor gave to other guests (steal). */
final case class Stamp(nanos: Long, stealTicks: Long, allTicks: Long) {
  def secondsTo(end: Stamp): Double = (end.nanos - nanos) / 1e9
  def stealTo(end: Stamp): Double =
    if (end.allTicks <= allTicks) 0.0
    else (end.stealTicks - stealTicks).toDouble / (end.allTicks - allTicks)
}

object Stamp {
  /** A timed sample is quiet when other guests took less than this share
    * of the machine's CPU time during it. On a shared 4-core VM a steal
    * share of 10-15% during a batch pass slows it by 50% or more, because
    * every stage waits for its slowest task, and 3-5% slows a stream
    * micro-batch by about 13%. */
  val QuietSteal = 0.02

  def now(): Stamp = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val ticks = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    // user nice system idle iowait irq softirq steal [guest guest_nice]
    Stamp(System.nanoTime(), ticks.lift(7).getOrElse(0L), ticks.take(8).sum)
  }
}
