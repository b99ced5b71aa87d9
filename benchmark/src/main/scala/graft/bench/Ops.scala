package graft.bench

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming._
import Stream.GenEvent

/** The operators of `stream_stateful`, each with the model its
  * closed-loop output is checked against. The models are written from
  * the operators' documented contracts, not from their code. */
object Ops {
  /** One operator under test. `check` reads the operator's output after
    * the closed loop and its flush, and returns the problems it found. */
  trait Op {
    type In
    def name: String
    def encIn: Encoder[In]
    def start(in: Dataset[In], sinkName: String, dir: String): StreamingQuery
    def toIn(e: GenEvent): In
    def flush(afterMs: Long): Seq[In] = Nil
    def check(spark: SparkSession, sinkName: String, dir: String, events: Seq[GenEvent],
              cuts: Seq[Seq[GenEvent]], progress: Seq[StreamingQueryProgress]): Seq[String]
  }

  private def ts(ms: Long) = new Timestamp(ms)

  private def memorySink[T](ds: Dataset[T], sinkName: String, mode: String): StreamingQuery =
    ds.writeStream.format("memory").queryName(sinkName).outputMode(mode).start()

  /** Event-time view → purchase pattern per user with a watermark on
    * `ts`. The model replays the engine's late-row filter (a row whose
    * time is at or below the batch's watermark is dropped; the watermark
    * is the largest event time of earlier batches minus the delay), then
    * matches the kept events in (time, id) order: a purchase closes every
    * open view within the horizon, an error clears them. */
  object Pattern extends Op {
    type In = PatternState.Ev
    val name = "pattern"
    val encIn = Encoders.product[In]
    def start(in: Dataset[In], sinkName: String, dir: String) =
      memorySink(PatternState(in.withWatermark("ts", s"${Stream.WatermarkDelayMs} milliseconds")),
        sinkName, "append")
    def toIn(e: GenEvent) =
      PatternState.Ev(e.seq, e.key.toLong, Stream.Kinds(e.kind), ts(e.tsMs))
    override def flush(afterMs: Long) =
      Seq(PatternState.Ev(-1L, -1L, "signup", ts(afterMs)),
        PatternState.Ev(-2L, -1L, "signup", ts(afterMs)))
    def check(spark: SparkSession, sinkName: String, dir: String, events: Seq[GenEvent],
              cuts: Seq[Seq[GenEvent]], progress: Seq[StreamingQueryProgress]) = {
      var wm = 0L
      var maxTs = Long.MinValue
      val kept = Seq.newBuilder[GenEvent]
      var dropped = 0L
      cuts.foreach { cut =>
        cut.foreach(e => if (e.tsMs <= wm) dropped += 1 else kept += e)
        maxTs = math.max(maxTs, cut.map(_.tsMs).max)
        wm = math.max(wm, maxTs - Stream.WatermarkDelayMs)
      }
      val expected = kept.result().groupBy(_.key).toSeq.flatMap { case (user, evs) =>
        var open = Vector.empty[GenEvent]
        evs.sortBy(e => (e.tsMs, e.seq)).flatMap { e =>
          Stream.Kinds(e.kind) match {
            case "view" => open :+= e; Nil
            case "error" => open = Vector.empty; Nil
            case "purchase" =>
              val m = open.filter(a => (e.tsMs - a.tsMs) * 1000L <= PatternState.HorizonUs)
                .map(a => PatternState.Match(user.toLong, a.seq, a.tsMs * 1000L, e.tsMs * 1000L,
                  (e.tsMs - a.tsMs) * 1000L))
              open = Vector.empty
              m
            case _ => Nil
          }
        }
      }
      val got = spark.table(sinkName).as[PatternState.Match](Encoders.product[PatternState.Match])
        .collect().toSeq.filter(_.userId >= 0)
      val engineDropped = progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      val drops = if (engineDropped == dropped) Nil
        else Seq(s"late rows dropped: model $dropped, engine $engineDropped")
      val missing = expected.diff(got)
      val extra = got.diff(expected)
      drops ++ (if (missing.isEmpty && extra.isEmpty) Nil
        else Seq(s"matches: ${expected.size} expected, ${got.size} emitted, " +
          s"${missing.size} missing, ${extra.size} unexpected"))
    }
  }

  /** Streaming ingest into the date-partitioned parquet layout: the
    * committed sink holds exactly the fed rows, each under its UTC day. */
  object Ingest extends Op {
    type In = (Long, Timestamp)
    val name = "partitioned_ingest"
    val encIn = Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP)
    def start(in: Dataset[In], sinkName: String, dir: String) =
      PartitionedIngest.start(in.toDF().select(col("_1").as("event_id"), col("_2").as("ts")),
        s"$dir/sink", s"$dir/ckpt")
    def toIn(e: GenEvent) = (e.seq, ts(e.tsMs))
    def check(spark: SparkSession, sinkName: String, dir: String, events: Seq[GenEvent],
              cuts: Seq[Seq[GenEvent]], progress: Seq[StreamingQueryProgress]) = {
      val row = spark.read.parquet(s"$dir/sink")
        .agg(count(lit(1)), sum(col("event_id")),
          sum(when(col("ts_date") =!= to_date(col("ts")), 1).otherwise(0)))
        .head()
      val (n, ids, misplaced) = (row.getLong(0), row.getLong(1), row.getLong(2))
      Seq(
        Option.when(n != events.size)(s"rows: fed ${events.size}, committed $n"),
        Option.when(ids != events.map(_.seq).sum)(s"event_id sum differs"),
        Option.when(misplaced != 0)(s"$misplaced rows under the wrong day")).flatten
    }
  }

  val all: Seq[Op] = Seq(Pattern, Ingest)

  private def files(dir: String): Seq[java.io.File] = {
    val root = new java.io.File(dir)
    if (!root.exists) Nil
    else {
      val it = java.nio.file.Files.walk(root.toPath)
      try {
        val buf = Seq.newBuilder[java.io.File]
        it.forEach(p => if (p.toString.endsWith(".parquet")) buf += p.toFile)
        buf.result()
      } finally it.close()
    }
  }
  def filesUnder(dir: String): Long = files(dir).size.toLong
  def bytesUnder(dir: String): Long = files(dir).map(_.length).sum
}
