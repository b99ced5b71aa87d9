package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Constant-density scale probes for the near-duplicate pair family
  * (docs/SCALING.md). Both build a documents corpus of `mult` copies of
  * the source documents under /tmp (one per source dir, reused when
  * present) and time queries on it with Bench's protocol. Copy 0 keeps
  * its text; every other copy has each token salted with its copy
  * index, so its shingles collide with nothing, unless its doc falls in
  * the "keep" share, which stays content-identical across all copies (a
  * dup group).
  *
  *   - `runMain graft.ScaleProbe fresh <mult> [<query>...]`: no keep
  *     share, so duplication DENSITY stays constant while volume grows
  *     `mult`×. A pair query whose work is candidate-proportional must
  *     track ~linear; a super-linear ratio here is a real scale defect.
  *     Prints wall time and shuffle-write MB on the source and on the
  *     `mult`× corpus, and their ratios.
  *   - `runMain graft.ScaleProbe density [<query>...]`: volume fixed at
  *     10× while the keep share doubles (1/8, 2/8, 4/8 of doc ids, each
  *     kept doc a group of C(10,2) = 45 true pairs). If candidate work is
  *     bucket-local, wall time follows the pair count, not volume²; an
  *     all-pairs term shows as time growing faster than the pairs.
  *
  * The source is `SPARK_GRAFT_SF_DIR` (default sf0.1).
  */
object ScaleProbe {
  private val FreshQueries = Map(
    10 -> Seq("ngram_jaccard", "minhash_calibration", "cluster_size_histogram",
      "split_leakage", "train_val_split_cluster", "source_overlap"),
    30 -> Seq("dedup_near_minhash", "minhash_calibration", "winnow_pairs"),
    100 -> Seq("dedup_near_minhash"))
  private val DensityQueries = Seq("dedup_near_minhash", "ngram_jaccard")

  /** Writes `mult` salted copies of `src`'s documents to `dir` unless
    * present; docs with `doc_id mod 8 < keepEighths` are not salted. */
  private def saltedCopies(spark: SparkSession, src: String, dir: String, mult: Int,
      keepEighths: Int): Unit =
    if (!new java.io.File(s"$dir/documents.parquet").exists()) {
      val copies = spark.range(mult).select(col("id").as("copy"))
      spark.read.parquet(s"$src/documents.parquet").crossJoin(copies)
        .withColumn("text",
          when(col("copy") === 0 || pmod(col("doc_id"), lit(8)) < keepEighths, col("text"))
            .otherwise(concat_ws(" ",
              expr("transform(split(text, ' '), w -> concat(w, '_', copy))"))))
        .withColumn("doc_id", col("doc_id") + col("copy") * 1000000L)
        .drop("copy")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    }

  def main(args: Array[String]): Unit = {
    val usage = "usage: ScaleProbe fresh <mult> [<query>...] | density [<query>...]"
    val spark = HarnessSession(logLevel = "ERROR")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val srcName = new java.io.File(src).getName
    val meter = new HarnessUtil.ShuffleMeter(spark)
    // (median seconds, shuffle MB per run, rows) of one query on one dir
    def timed(n: String, dir: String): (Double, Double, Long) = {
      val fn = SparkEntry.queries(n)
      var rows = 0L
      val (ss, shuffle) = HarnessUtil.timeRuns(spark, meter) {
        rows = fn(spark, dir).count()
      }
      (ss(ss.length / 2), shuffle / 1024.0 / 1024.0, rows)
    }
    try args.toSeq match {
      case Seq("fresh", m, names @ _*) =>
        val mult = m.toInt
        val dir = s"/tmp/graft_fresh${mult}x_$srcName"
        saltedCopies(spark, src, dir, mult, keepEighths = 0)
        println(f"${"query"}%-24s ${"1x"}%8s ${s"${mult}x"}%9s ${"ratio"}%6s " +
          f"${"shufMB1x"}%9s ${s"shufMB${mult}x"}%10s ${"shufRatio"}%9s")
        val qs = if (names.nonEmpty) names else FreshQueries.getOrElse(mult, FreshQueries(10))
        qs.foreach { n =>
          val ((b, bmb, _), (f, fmb, _)) = (timed(n, src), timed(n, dir))
          println(f"$n%-24s $b%8.2f $f%9.2f ${f / b}%6.1f $bmb%9.1f $fmb%10.1f " +
            f"${fmb / math.max(bmb, 0.001)}%9.1f")
        }
      case Seq("density", names @ _*) =>
        val shares = Seq(1, 2, 4)
        def dir(m: Int) = s"/tmp/graft_density${m}_$srcName"
        shares.foreach(m => saltedCopies(spark, src, dir(m), 10, m))
        println(f"${"query"}%-20s ${"share"}%6s ${"pairs"}%10s ${"sec"}%8s ${"sec/Kpair"}%10s")
        (if (names.nonEmpty) names else DensityQueries).foreach { n =>
          shares.foreach { m =>
            val (sec, _, pairs) = timed(n, dir(m))
            println(f"$n%-20s ${s"$m/8"}%6s $pairs%10d $sec%8.2f " +
              f"${sec * 1000 / math.max(pairs, 1)}%10.3f")
          }
        }
      case _ => throw new IllegalArgumentException(usage)
    } finally spark.stop()
  }
}
