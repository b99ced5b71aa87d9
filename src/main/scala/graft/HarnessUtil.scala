package graft

import org.apache.spark.sql.SparkSession

/** Shared plumbing for the harness mains (Verify / Bench / Probe /
  * ScaleProbe): one JSON escaper, one between-queries release, one
  * shuffle meter and one timing protocol, so the mains cannot drift
  * apart. */
private[graft] object HarnessUtil {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  def jsonQ(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Data-sized `SparkContext.broadcast` handles issued by plan
    * builders (the Bloom filter in `contaminatedViaBloom` is ~120 MB at
    * production fpp/held-set sizes), queued here so [[releaseAll]] can
    * destroy them EAGERLY. Without this the only reclamation path is
    * the lazy plan becoming unreachable plus ContextCleaner/GC — a
    * harness loop (or any long-lived session) that constructs the
    * pipeline repeatedly stacks filter-sized broadcasts on the driver
    * and every executor in the meantime. */
  private val issuedBroadcasts =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.broadcast.Broadcast[_]]()

  /** Register a broadcast for destruction at the next [[releaseAll]].
    * Same lifetime contract as localCheckpoint blocks: the handle must
    * not be executed again after that release. */
  def trackBroadcast[T](bc: org.apache.spark.broadcast.Broadcast[T]): org.apache.spark.broadcast.Broadcast[T] = {
    issuedBroadcasts.add(bc)
    bc
  }

  /** Snapshot of broadcasts tracked but not yet destroyed (test hook for
    * the Bloom-broadcast lifecycle spec — a construction that stacked a
    * second filter broadcast, or a release that failed to drain, shows
    * up here). */
  private[graft] def pendingBroadcasts: Seq[org.apache.spark.broadcast.Broadcast[_]] = {
    val it = issuedBroadcasts.iterator()
    val buf = Seq.newBuilder[org.apache.spark.broadcast.Broadcast[_]]
    while (it.hasNext) buf += it.next()
    buf.result()
  }

  /** Shuffle-write bytes summed over every task the session finishes. */
  final class ShuffleMeter(spark: SparkSession) {
    private val bytes = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics)
          .foreach(m => { bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten); () })
    })

    /** Bytes written so far. Listener delivery is async, so the read
      * first waits for the listener bus to drain — a fixed sleep lags
      * behind the bus under load and bleeds one query's task metrics
      * into the next query's delta. A bus that cannot drain within 10 s
      * is read as far as it got. */
    def drained(): Long = {
      try org.apache.spark.GraftSparkShim.waitListenerBusEmpty(spark.sparkContext, 10000L)
      catch { case _: java.util.concurrent.TimeoutException => () }
      bytes.get()
    }
  }

  /** Timed runs per measurement: the median of three, because one
    * sample cannot tell a regression from a GC pause or machine noise. */
  val TimedRuns = 3

  /** The timing protocol wherever a query is timed: one warm-up run (JIT,
    * codegen; not recorded), then [[TimedRuns]] timed runs, with a full
    * release and GC after each so one run's pins and garbage are not paid
    * for by the next. Returns the sorted samples in seconds and the
    * average shuffle-write bytes per timed run. */
  def timeRuns(spark: SparkSession, meter: ShuffleMeter)(run: => Unit)
      : (IndexedSeq[Double], Long) = {
    run
    releaseAll(spark, gc = true)
    val sb0 = meter.drained()
    val samples = (1 to TimedRuns).map { _ =>
      val t0 = System.nanoTime()
      run
      val dt = (System.nanoTime() - t0) / 1e9
      releaseAll(spark, gc = true)
      dt
    }.sorted
    (samples, (meter.drained() - sb0) / TimedRuns)
  }

  /** Free everything a finished query pinned: catalog cache entries,
    * localCheckpoint blocks, AND tracked data-sized broadcasts.
    * clearCache() alone misses the latter two (RDD-level persists and
    * broadcast blocks are invisible to the catalog), which would leave
    * corpus-sized blocks resident until driver GC and skew later
    * timings. Only safe BETWEEN queries — a live DataFrame whose
    * checkpoint blocks (or tracked broadcast) are dropped cannot
    * recompute (lineage is truncated / the handle is destroyed). */
  def releaseAll(spark: SparkSession, gc: Boolean = false): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    var bc = issuedBroadcasts.poll()
    while (bc != null) {
      try bc.destroy()
      catch { case scala.util.control.NonFatal(_) => () } // already cleaned: fine
      bc = issuedBroadcasts.poll()
    }
    // gc=true (Bench between queries): collect the freed blocks NOW so a
    // heavy query's garbage is not paid for — as a collection pause — by
    // whichever query happens to run next. Sustained cross-query heap
    // pressure inflated four recorded bench lines up to 6.6x in round 5.
    if (gc) System.gc()
  }
}
