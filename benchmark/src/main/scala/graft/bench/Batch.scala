package graft.bench

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The batch workload: named `SparkEntry.queries` run in passes, every
  * query timed from the start of its DataFrame build (which runs the eager
  * pins) to the end of the fingerprint action over its full ordered
  * result. */
object Batch {

  /** A sample of the reference's DataStream algebra plus TPC-H
    * (Relational, Rolling, Windows, EnrichJoin, EventAnalytics, Tpch):
    * mostly sub-second, scan- and scheduler-bound, few pins, small
    * shuffles. A pass over the whole family takes minutes at sf0.1 on
    * four cores, so the workload runs a fixed sample that spans the
    * family's modules. */
  val Dataflow: Seq[String] = Seq(
    "filter", "projection", "decimal_arith", "rolling_sum", "tumbling_window",
    "interval_join", "tpch_q3", "events_rollup", "tpch_q6")

  /** Passes before the timed ones: the cold pass and one more, during
    * which the JIT is still compiling the hot paths. */
  val WarmupPasses = 2
  /** Timed passes at least, whatever `seconds` says. */
  val MinTimedPasses = 4
  val MaxTimedPasses = 40

  final case class Result(name: String, buildS: Double, execS: Double, rows: Long,
                          hash: String, error: Option[String], plan: Seq[String],
                          steal: Double = 0.0) {
    def totalS: Double = buildS + execS
  }

  /** [[WarmupPasses]] untimed passes, then timed passes for `seconds`,
    * each pass in its own seeded order. The cold pass pays class loading,
    * JIT and code generation in an order-dependent way and is reported but
    * not timed into the medians. Untraced, every timed pass is plain;
    * traced, timed passes run in plain-traced-traced-plain groups, so the
    * trace overhead is measured against plain passes of the same
    * process. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String], seed: Long, seconds: Double,
          tracer: Option[Tracer]): Map[String, Any] = {
    val rng = new scala.util.Random(seed)
    def order() = rng.shuffle(names.sorted)
    val passes = Seq.newBuilder[Map[String, Any]]
    for (i <- 0 until WarmupPasses)
      passes += passRecord(pass(spark, sfDir, order(), None, 0L), traced = false,
        warmup = true, cold = i == 0)
    val t0 = System.nanoTime()
    var timed = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (timed < MaxTimedPasses && (timed < MinTimedPasses || elapsed < seconds ||
        (tracer.isDefined && timed % 4 != 0))) {
      val traced = tracer.filter(_ => timed % 4 == 1 || timed % 4 == 2)
      traced.foreach(_.register())
      val root = traced.map(_.open("workload", s"dataflow pass ${timed + 1}", 0L))
      val t1 = Stamp.now()
      val results = pass(spark, sfDir, order(), traced, root.map(_.id).getOrElse(0L))
      val t2 = Stamp.now()
      for (tr <- traced; r <- root) tr.close(r)
      traced.foreach(_.unregister())
      passes += passRecord(results, traced.isDefined) + ("pass_s" -> t1.secondsTo(t2)) +
        ("steal" -> t1.stealTo(t2)) + ("quiet" -> (t1.stealTo(t2) < Stamp.QuietSteal))
      timed += 1
    }
    Map("passes" -> passes.result())
  }

  def passRecord(results: Seq[Result], traced: Boolean, warmup: Boolean = false,
                 cold: Boolean = false): Map[String, Any] =
    Map("traced" -> traced, "warmup" -> warmup, "cold" -> cold,
      "pass_s" -> results.map(_.totalS).sum,
      "queries" -> results.map { r =>
        Map("name" -> r.name, "build_s" -> r.buildS, "exec_s" -> r.execS,
          "total_s" -> r.totalS, "rows" -> r.rows, "hash" -> r.hash,
          "error" -> r.error.orNull, "plan" -> r.plan, "steal" -> r.steal)
      })

  /** Runs `names` in order, once each. With a tracer, each query is a
    * span with `build` and `execute` children. */
  def pass(spark: SparkSession, sfDir: String, names: Seq[String],
           tracer: Option[Tracer], parent: Long): Seq[Result] =
    names.map { name =>
      val span = tracer.map(_.open("query", name, parent))
      def phase[T](kind: String)(body: => T): T = (tracer, span) match {
        case (Some(tr), Some(q)) => tr.within(kind, name, q.id)(_ => body)
        case _ => body
      }
      val s0 = Stamp.now()
      val t0 = s0.nanos
      var t1 = t0
      val r = try {
        val f = graft.SparkEntry.queries.getOrElse(name,
          sys.error(s"$name is not in SparkEntry.queries"))
        val df = phase("build")(f(spark, sfDir))
        t1 = System.nanoTime()
        for (tr <- tracer; q <- span) tr.expectPlan(df.queryExecution, q)
        val fp = phase("execute")(Fingerprint.of(df))
        val t2 = System.nanoTime()
        Result(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, fp.rows, fp.hex, None, Nil)
      } catch {
        case NonFatal(e) =>
          val t2 = System.nanoTime()
          if (t1 == t0) t1 = t2
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
            .take(1).mkString.take(300)
          Result(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, -1L, "", Some(msg), Nil)
      } finally graft.HarnessUtil.releaseAll(spark)
      val timed = r.copy(steal = s0.stealTo(Stamp.now()))
      (tracer, span) match {
        case (Some(tr), Some(q)) =>
          tr.close(q)
          tr.drain()
          timed.copy(plan = tr.planOf(q))
        case _ => timed
      }
    }
}
