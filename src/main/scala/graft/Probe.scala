package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Probe main for working on individual queries, on the same session as
  * Bench and Verify ([[HarnessSession]]):
  *
  *   - `runMain graft.Probe time <sfDir> <query>...` times each named
  *     query with Bench's protocol (one warm-up, median of three timed
  *     runs); the pseudo-query `entry` times `SparkEntry.entry`.
  *   - `runMain graft.Probe plan <sfDir> [<query>...]` prints each
  *     query's formatted physical plan (default: the scale-sanity list
  *     below) — pushdown, pruning, broadcast, partial aggregation and
  *     codegen spans are auditable from it.
  *   - `runMain graft.Probe dump <sfDir> <outDir> <query>...` is Verify
  *     for the named queries, so `tools/oracle_check.py` checks just
  *     those.
  */
object Probe {
  private val PlanQueries = Seq("filter", "group_agg", "enrich_wide_row", "window_join",
    "dedup_near_minhash", "ann_topk", "ann_ivf_topk", "word_count",
    "session_window", "ngram_jaccard", "pipeline_clean",
    "decontaminate", "domain_mix", "corpus_shuffle", "repetition_score")

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe time <sfDir> <query>... | plan <sfDir> [<query>...] | " +
      "dump <sfDir> <outDir> <query>..."
    val spark = HarnessSession(logLevel = if (args.headOption.contains("plan")) "ERROR" else "WARN")
    try args.toSeq match {
      case Seq("time", sfDir, names @ _*) if names.nonEmpty => time(spark, sfDir, names)
      case Seq("plan", sfDir, names @ _*) =>
        plan(spark, sfDir, if (names.isEmpty) PlanQueries else names)
      case Seq("dump", sfDir, outDir, names @ _*) if names.nonEmpty =>
        Verify.dump(spark, sfDir, outDir, names.toSet)
      case _ => throw new IllegalArgumentException(usage)
    } finally spark.stop()
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    if (name == "entry") (sp, _) => SparkEntry.entry(sp)
    else SparkEntry.queries(name)

  private def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val meter = new HarnessUtil.ShuffleMeter(spark)
    names.foreach { n =>
      val fn = query(n)
      var rows = 0L
      val (ss, shuffle) = HarnessUtil.timeRuns(spark, meter) {
        rows = fn(spark, sfDir).count()
      }
      println(f"TIMING $n%-24s ${ss(ss.length / 2)}%8.2fs  min=${ss.head}%.2f  " +
        f"max=${ss.last}%.2f  rows=$rows  shuffle=${shuffle / 1024.0 / 1024.0}%.2f MB")
    }
  }

  private def plan(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      println(s"\n========== $n ==========")
      query(n)(spark, sfDir).explain("formatted")
      HarnessUtil.releaseAll(spark)
    }
}
