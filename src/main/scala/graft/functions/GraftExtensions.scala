package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions hook registering graft's native functions so
  * they are usable from SQL text as well as the Column API:
  *
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)        // or
  *     .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  *
  * then `SELECT qdot(a.qv, b.qv) FROM ...`.
  *
  * It also installs [[graft.storage.ForkFreeLocalFs]] for `file:` paths.
  * The parser hook is the injection Spark calls with the session while it
  * builds the session state, before any query can copy the Hadoop
  * configuration; it returns Spark's parser unchanged.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectParser { (session, parser) =>
      graft.storage.ForkFreeLocalFs.install(session)
      parser
    }
    ext.injectOptimizerRule(_ => QDotRewrite)
    ext.injectOptimizerRule(_ => graft.plans.PartitionDateInference)
    ext.injectFunction((
      new FunctionIdentifier("qdot"),
      new ExpressionInfo(classOf[QDot].getName, "qdot"),
      QDot.builder))
    ext.injectFunction((
      new FunctionIdentifier("hash60"),
      new ExpressionInfo(classOf[Hash60].getName, "hash60"),
      Hash60.builder))
    ext.injectFunction((
      new FunctionIdentifier("might_contain_bloom"),
      new ExpressionInfo(classOf[MightContainBloom].getName, "might_contain_bloom"),
      MightContainBloom.builder))
    ext.injectFunction((
      new FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
      PqEncode.builder))
  }
}

object GraftExtensions {
  /** Defensive runtime registration for sessions built WITHOUT the
    * extension (e.g. a harness-owned SparkSession): registers qdot in
    * the session's function registry if it is not already resolvable,
    * and installs the fork-free local filesystem. */
  def ensure(spark: org.apache.spark.sql.SparkSession): Unit = {
    graft.storage.ForkFreeLocalFs.install(spark)
    if (!spark.catalog.functionExists("qdot")) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "qdot", QDot.builder, "built-in")
    }
    if (!spark.catalog.functionExists("hash60")) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "hash60", Hash60.builder, "built-in")
    }
    if (!spark.catalog.functionExists("might_contain_bloom")) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "might_contain_bloom", MightContainBloom.builder, "built-in")
    }
    if (!spark.catalog.functionExists("pq_encode")) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "pq_encode", PqEncode.builder, "built-in")
    }
    // Optimizer rules cannot be injected post-build; for harness-owned
    // sessions the runtime hook is experimental.extraOptimizations (a
    // fixed-point batch after the main optimizer, still before physical
    // planning — early enough for FileSourceStrategy to classify the
    // derived predicates as partition filters). The rule is idempotent,
    // so coexisting with the injected copy is harmless.
    if (!spark.experimental.extraOptimizations.contains(graft.plans.PartitionDateInference)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.PartitionDateInference
    }
  }
}
