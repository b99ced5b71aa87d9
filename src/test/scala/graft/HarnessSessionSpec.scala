package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness session's conf set and its `SPARK_GRAFT_CONF` parse, as
  * plain values: no SparkContext is built. */
class HarnessSessionSpec extends AnyFunSuite {

  test("conf set: local[n] with one shuffle partition per core, UTC, no UI, split floor") {
    assert(HarnessSession.confs(1, openCost = 65536L) == Seq(
      "spark.master" -> "local[1]",
      "spark.sql.shuffle.partitions" -> "1",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.files.openCostInBytes" -> "65536"))
    assert(HarnessSession.confs(4, openCost = 4194304L) == Seq(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.files.openCostInBytes" -> "4194304"))
  }

  test("SPARK_GRAFT_CONF parse: ';'-separated pairs, split on the first '=' only") {
    assert(HarnessSession.parseConf("a=1;b=2") == Seq("a" -> "1", "b" -> "2"))
    assert(HarnessSession.parseConf("a=b=c") == Seq("a" -> "b=c"))
    assert(HarnessSession.parseConf("k=") == Seq("k" -> ""))
  }

  test("SPARK_GRAFT_CONF parse: blank and malformed entries skipped, whitespace trimmed") {
    assert(HarnessSession.parseConf("") == Seq.empty)
    assert(HarnessSession.parseConf(" ; ;") == Seq.empty)
    assert(HarnessSession.parseConf("novalue;=v; =v") == Seq.empty)
    assert(HarnessSession.parseConf("  spark.x = on ; ;y=2 ") == Seq("spark.x" -> "on", "y" -> "2"))
  }
}
