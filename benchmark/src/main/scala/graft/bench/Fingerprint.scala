package graft.bench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.execution.SQLExecution

/** Order-sensitive fingerprint of a query's full result: the row count
  * and a polynomial hash over the rows in result order.
  *
  * The action runs the query's own executed plan (`queryExecution.toRdd`)
  * under a SQL execution id, so every output column is computed and the
  * final ORDER BY stays in the plan. A `count()` would not do that:
  * Catalyst rewrites it into an aggregate that drops the sort and every
  * computed column. Each partition hashes its rows in order, and the
  * partition hashes are folded in partition order, which gives the same
  * value for any number of partitions. */
object Fingerprint {
  final case class Fp(rows: Long, hash: Long) {
    def hex: String = f"$hash%016x"
  }

  /** Name of the SQL execution the action runs under. */
  val ActionName = "bench_fingerprint"

  private val Mult = 0x100000001b3L
  private val Seed = 42L

  private def pow(base: Long, e: Long): Long = {
    var (b, n, r) = (base, e, 1L)
    while (n > 0) {
      if ((n & 1L) == 1L) r *= b
      b *= b
      n >>= 1
    }
    r
  }

  def of(df: DataFrame): Fp = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some(ActionName)) {
      qe.toRdd.mapPartitionsWithIndex { (index, rows) =>
        val toUnsafe = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        rows.foreach { row =>
          val u = row match {
            case u: UnsafeRow => u
            case other => toUnsafe(other)
          }
          h = h * Mult + XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
            u.getSizeInBytes, Seed)
          n += 1
        }
        Iterator((index, n, h))
      }.collect()
    }
    parts.sortBy(_._1).foldLeft(Fp(0L, 0L)) { case (acc, (_, n, h)) =>
      Fp(acc.rows + n, acc.hash * pow(Mult, n) + h)
    }
  }
}
