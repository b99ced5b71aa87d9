package graft.bench

import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The `stream_stateful` workload: a seeded generator feeds two stateful
  * operators one at a time through a `MemoryStream`.
  *
  * Events carry skewed keys. A share of them arrive out of order within
  * the watermark delay, and a small share arrive far beyond it. Each
  * operator runs two phases on one streaming query:
  *
  *  - closed loop: fixed batch cuts of [[ClosedBatchRows]] events, each
  *    fed and drained before the next, for the operator's share of the
  *    run's seconds; the first [[WarmupBatches]] are not timed. Two flush
  *    batches then move the watermark past every closed-loop event, and
  *    the output so far is checked against a model of the operator
  *    computed here from the generated events;
  *  - open loop (traced runs and rate probes only): the generator offers
  *    events at a fixed rate in chunks, regardless of progress, until a
  *    set number of micro-batches has consumed them. Each chunk's latency
  *    runs from the time it was due to the end of the micro-batch that
  *    consumed it, found from the source offsets in the query progress. */
object Stream {
  /** Closed loop: batches of [[ClosedBatchRows]] events, the first
    * [[WarmupBatches]] untimed, at least [[MinClosedBatches]] in all. A
    * fresh JVM runs `PatternState`'s batches about 1.5x slower than a
    * warm one, and the JIT needs about ten batches to close that gap. */
  val MinClosedBatches = 18
  val MaxClosedBatches = 60
  val WarmupBatches = 10
  val ClosedBatchRows = 1000
  /** Open-loop offered rate, events per second, chunk period, and the
    * longest an open loop may run. */
  val OfferedRate = 4000
  val ChunkMs = 50
  val OpenMaxSeconds = 60
  val WatermarkDelayMs = 10000L

  final case class GenEvent(seq: Long, key: Int, kind: Int, tsMs: Long, arrivalMs: Long)

  /** Deterministic event stream in arrival order. Event `i` has event
    * time `t0 + i` ms plus a pause of [[PauseMs]] after every [[BurstRows]]
    * events (so the watermark jumps and buffered events ripen). 20% arrive
    * up to 8 s late (inside the 10 s watermark delay); 1% arrive 45–60 s
    * late (far beyond it). */
  val BurstRows = 2000
  val PauseMs = 30000L
  val Kinds: Array[String] = Array("view", "click", "purchase", "error", "signup")

  def generate(rng: scala.util.Random, n: Int, firstSeq: Long, t0Ms: Long): Array[GenEvent] = {
    val keyCdf = zipfCdf(64, 1.0)
    val kindCdf = cdf(Array(0.40, 0.30, 0.12, 0.03, 0.15))
    (0 until n).map { i =>
      val ts = t0Ms + i + (i / BurstRows) * PauseMs
      val u = rng.nextDouble()
      val delay =
        if (u < 0.01) 45000L + rng.nextInt(15000)
        else if (u < 0.21) 1L + rng.nextInt(8000)
        else 0L
      GenEvent(firstSeq + i, draw(keyCdf, rng), draw(kindCdf, rng), ts, ts + delay)
    }.sortBy(e => (e.arrivalMs, e.seq)).toArray
  }

  private def cdf(w: Array[Double]): Array[Double] = {
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s)
  }
  private def zipfCdf(n: Int, s: Double): Array[Double] =
    cdf(Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s)))
  private def draw(c: Array[Double], rng: scala.util.Random): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(c, u)
    math.min(c.length - 1, if (i >= 0) i else -i - 1)
  }

  /** Runs every operator in turn, a closed loop for its share of
    * `seconds`, then `openBatches` open-loop micro-batches at `rate`
    * events/s. Traced, the timed closed-loop batches alternate between
    * traced and plain, so that the plain ones are the reference of the
    * trace overhead at the same point of JIT warm-up, and the open loop is
    * traced. */
  def run(spark: SparkSession, seed: Long, seconds: Double, scale: Double, openBatches: Int,
          rate: Int, workDir: String, tracer: Option[Tracer]): Map[String, Any] = {
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val root = tracer.map(_.open("workload", "stream_stateful", 0L))
    val results = Ops.all.zipWithIndex.map { case (op, i) =>
      val rng = new scala.util.Random(seed * 1000003L + i)
      runOp(spark, op, rng, scale, seconds / Ops.all.size, openBatches, rate,
        s"$workDir/stream/${op.name}", tracer, root.map(_.id).getOrElse(0L))
    }
    for (t <- tracer; r <- root) t.close(r)
    Map("ops" -> results, "offered_rate" -> rate)
  }

  private def runOp(spark: SparkSession, op: Ops.Op, rng: scala.util.Random, scale: Double,
                    closedSeconds: Double, openBatches: Int, rate: Int, dir: String,
                    tracer: Option[Tracer], parent: Long): Map[String, Any] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: Encoder[op.In] = op.encIn
    val batchRows = math.max(50, (ClosedBatchRows * scale).toInt)
    val cuts = generate(rng, MaxClosedBatches * batchRows, 0L, 1700000000000L)
      .grouped(batchRows).map(_.toSeq).toSeq
    val span = tracer.map(_.open("stream", op.name, parent))
    tracer.foreach(tr => tr.currentStream = span.get.id)
    val source = MemoryStream[op.In]
    val sinkName = s"bench_${new java.io.File(dir).getName}"
    val query = op.start(source.toDS(), sinkName, dir)
    try {
      // closed loop: cuts fed one by one for `closedSeconds`
      val t00 = System.nanoTime()
      val batchS = Seq.newBuilder[Double]
      val batchSteal = Seq.newBuilder[Double]
      val batchTraced = Seq.newBuilder[Boolean]
      var tracedS = 0.0
      var fed = 0
      while (fed < cuts.length && (fed < MinClosedBatches ||
          (System.nanoTime() - t00) / 1e9 < closedSeconds)) {
        val traced = tracer.filter(_ => fed >= WarmupBatches && (fed - WarmupBatches) % 2 == 0)
        traced.foreach(_.register())
        val t0 = Stamp.now()
        source.addData(cuts(fed).map(op.toIn): _*)
        query.processAllAvailable()
        val t1 = Stamp.now()
        traced.foreach(_.unregister())
        if (traced.isDefined) tracedS += t0.secondsTo(t1)
        batchS += t0.secondsTo(t1)
        batchSteal += t0.stealTo(t1)
        batchTraced += traced.isDefined
        fed += 1
      }
      val used = cuts.take(fed)
      val closed = used.flatten
      val closedEndMs = closed.map(_.tsMs).max + 3600000L
      op.flush(closedEndMs).foreach { row =>
        source.addData(row)
        query.processAllAvailable()
      }
      val closedProgress = query.recentProgress.toSeq
      def check() =
        try op.check(spark, sinkName, dir, closed, used, closedProgress)
        catch { case scala.util.control.NonFatal(e) => Seq(s"check failed: $e") }
      val problems = tracer match {
        case Some(tr) => tr.within("check", op.name, span.get.id)(_ => check())
        case None => check()
      }
      val measuredRows = used.drop(WarmupBatches).map(_.length).sum

      // open loop, on an event clock that starts after the flush: chunks
      // are offered on schedule until `openBatches` micro-batches with
      // input have ended after the loop began, or for OpenMaxSeconds
      val chunkRows = math.max(1, (rate * scale * ChunkMs / 1000.0).round.toInt)
      val firstOpenBatch = closedProgress.map(_.batchId).foldLeft(-1L)(math.max) + 1
      val due = Array.newBuilder[Long]
      val offsets = Array.newBuilder[Long]
      val lagMs = Seq.newBuilder[Double]
      val maxChunks = (OpenMaxSeconds * 1000 / ChunkMs).toInt
      val open = if (openBatches <= 0) Array.empty[GenEvent]
        else generate(rng, maxChunks * chunkRows, cuts.map(_.length).sum.toLong,
          closedEndMs + 3600000L)
      def openBatchesDone = query.recentProgress.count(p => p.batchId >= firstOpenBatch &&
        p.numInputRows > 0)
      tracer.foreach(_.register())
      val openStart = System.nanoTime()
      val t0 = System.currentTimeMillis() + 20
      var c = 0
      while (openBatches > 0 && openBatchesDone < openBatches && c < maxChunks) {
        val dueMs = t0 + c.toLong * ChunkMs
        val wait = dueMs - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        due += dueMs
        lagMs += math.max(0L, System.currentTimeMillis() - dueMs).toDouble
        val rows = open.slice(c * chunkRows, (c + 1) * chunkRows).toSeq.map(op.toIn)
        offsets += source.addData(rows: _*).toString.toLong
        c += 1
      }
      query.processAllAvailable()
      tracer.foreach { tr =>
        tr.unregister()
        tracedS += (System.nanoTime() - openStart) / 1e9
      }
      val openProgress = query.recentProgress.toSeq.filter(_.batchId >= firstOpenBatch)
      // batch end times by the last source offset each batch consumed
      val ends = openProgress.filter(_.numInputRows > 0).map { p =>
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
          Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        (p.sources.head.endOffset.trim.toLong, end, p.batchId)
      }.sortBy(_._1)
      val chunkDue = due.result()
      val chunkOffsets = offsets.result()
      // one sample per chunk: its latency, the batch that consumed it
      val samples = chunkDue.indices.flatMap { i =>
        ends.find(_._1 >= chunkOffsets(i)).map { case (_, end, batch) =>
          ((end - chunkDue(i)).toDouble, batch)
        }
      }
      val all = query.recentProgress.toSeq
      val stateOps = all.flatMap(_.stateOperators)
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      Map(
        "name" -> op.name,
        "problems" -> problems,
        "closed_rows" -> measuredRows,
        "closed_batch_s" -> batchS.result().drop(WarmupBatches),
        "closed_batch_quiet" -> batchSteal.result().drop(WarmupBatches).map(_ < Stamp.QuietSteal),
        "closed_batch_steal" -> batchSteal.result().drop(WarmupBatches),
        "closed_batch_traced" -> batchTraced.result().drop(WarmupBatches),
        "traced_s" -> tracedS,
        "open_chunks" -> chunkDue.length,
        "open_chunk_rows" -> chunkRows,
        "open_latency_ms" -> samples.map(_._1),
        "open_latency_batch" -> samples.map(_._2),
        "gen_lag_ms" -> lagMs.result(),
        "batches" -> all.length,
        "add_batch_ms" -> all.map(dur(_, "addBatch")),
        "planning_ms" -> all.map(dur(_, "queryPlanning")),
        "commit_ms" -> all.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")),
        "state_rows" -> stateOps.map(_.numRowsTotal.toDouble).foldLeft(0.0)(math.max),
        "state_mem_bytes" -> stateOps.map(_.memoryUsedBytes.toDouble).foldLeft(0.0)(math.max),
        "late_dropped_rows" -> stateOps.map(_.numRowsDroppedByWatermark).sum,
        "files_written" -> Ops.filesUnder(s"$dir/sink"),
        "bytes_written" -> Ops.bytesUnder(s"$dir/sink"))
    } finally {
      query.stop()
      for (tr <- tracer; s <- span) {
        tr.drain()
        tr.close(s)
        tr.currentStream = 0L
      }
      spark.sql(s"DROP VIEW IF EXISTS $sinkName")
    }
  }
}
