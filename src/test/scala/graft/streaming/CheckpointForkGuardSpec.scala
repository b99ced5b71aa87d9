package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Checkpointed streaming on local paths starts no processes: no
  * `readlink` from renames and no `chmod` for state, offset, commit or
  * sink-log files. Process starts are read from an in-process JFR
  * recording of `jdk.ProcessStart` around a 3-batch `PatternState` query
  * and one `PartitionedIngest` batch. */
class CheckpointForkGuardSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("PatternState and PartitionedIngest checkpoints spawn no readlink or chmod") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val base = Files.createTempDirectory("forkguard").toRealPath()
    val (patternCkpt, ingestCkpt) = (base.resolve("pattern-ckpt"), base.resolve("ingest-ckpt"))

    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      val events = MemoryStream[PatternState.Ev]
      val pq = PatternState(events.toDS().withWatermark("ts", "1 hour"))
        .writeStream.format("memory").queryName("forkguard_cep")
        .option("checkpointLocation", patternCkpt.toString)
        .outputMode("append").start()
      try {
        Seq(
          Seq(PatternState.Ev(1, 1, "view", ts("2024-03-01 10:00:00"))),
          Seq(PatternState.Ev(2, 1, "purchase", ts("2024-03-01 10:01:00"))),
          Seq(PatternState.Ev(3, 2, "view", ts("2024-03-01 14:00:00")))
        ).foreach { batch => events.addData(batch: _*); pq.processAllAvailable() }
      } finally pq.stop()

      val rows = MemoryStream[(Long, java.sql.Timestamp)]
      val iq = PartitionedIngest.start(
        rows.toDF().select($"_1".as("event_id"), $"_2".as("ts")),
        base.resolve("sink").toString, ingestCkpt.toString)
      try {
        rows.addData((1L, ts("2024-03-01 10:00:00")), (2L, ts("2024-03-02 10:00:00")))
        iq.processAllAvailable()
      } finally iq.stop()
    } finally rec.stop()

    val dump = Files.createTempFile("forkguard", ".jfr")
    val commands = try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).toSeq
    } finally { rec.close(); Files.delete(dump) }

    assert(Files.exists(patternCkpt.resolve("commits/2")) && Files.exists(ingestCkpt.resolve("commits/0")))
    val readlinks = commands.filter(_.startsWith("readlink"))
    assert(readlinks.size == 0, s"${readlinks.size} readlink spawns, e.g. ${readlinks.take(3)}")
    val checkpointChmods = commands.filter(c => c.startsWith("chmod") &&
      Seq(patternCkpt, ingestCkpt).exists(d => c.contains(d.toString)))
    assert(checkpointChmods.size == 0,
      s"${checkpointChmods.size} chmod spawns on checkpoint files, e.g. ${checkpointChmods.take(3)}")
  }
}
