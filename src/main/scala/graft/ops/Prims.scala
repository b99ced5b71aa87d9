package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Determinism primitives shared by every operator.
  *
  * The driver's correctness gate hashes our parquet output against a DuckDB
  * run of the oracle SQL, so every value we emit must be bit-identical across
  * the two engines:
  *
  *   - Floating-point SUMS are order-dependent (Spark partial-aggregates over
  *     32 partitions; DuckDB may use a different association). We therefore
  *     aggregate in exact DECIMAL (order-independent) and cast the final
  *     value to double — both engines then produce the same IEEE double.
  *   - Per-row double arithmetic (a*b, 1-x, ...) is deterministic as long as
  *     the expression shape matches the oracle SQL, so it stays in double.
  *   - Timestamps are compared as epoch integers (seconds or micros), never
  *     as engine-native timestamp values.
  */
object Prims {
  /** Conf key selecting how [[materialize]] pins a frame:
    * `local` (default) or `reliable`. */
  val MaterializeModeKey = "spark.graft.materialize.mode"

  /** Conf key for [[scanFanout]]: `auto` (default — fan out only when the
    * scan is under-parallel) or `off`. */
  val ScanFanoutKey = "spark.graft.scan.fanout"

  /** Conditional post-scan fan-out — the optimization guide's §2.5 fix for
    * under-parallel inputs ("one huge unsplittable file … repartition
    * immediately after the read"), applied adaptively. A parquet scan
    * cannot be split below row-group granularity, so a table written as
    * few row groups runs its ENTIRE first stage (scan + every fused narrow
    * op: tokenize, explode, per-row hashing) on that few tasks while the
    * rest of the cluster idles. When the planned scan parallelism is below
    * half the cluster's core count, repartition by a deterministic key to
    * 2× default parallelism; otherwise pass through unchanged.
    *
    * Scale posture: at warehouse scale inputs arrive in hundreds of
    * splits, the condition is false, and this is a no-op — it never adds
    * an exchange to an already-parallel scan (bucketed/serving layouts
    * included: their multi-file scans pass the threshold, preserving
    * their exchange-free plans). The fan-out key is a deterministic
    * column (hash repartition), never `rand()` — see SPARK-38388 — and
    * the bytes moved are exactly the under-parallel input, the same bytes
    * a single task would otherwise process serially.
    *
    * PRECONDITION: call on raw scans only. The scan's partition count
    * is read from the `QueryExecution` the exchange assertion plans
    * (`df.queryExecution.toRdd`). That is planning-only on an
    * exchange-free plan, but under AQE it EXECUTES any shuffle query
    * stages in the plan — asserted below so a future non-scan caller
    * fails loudly instead of silently launching jobs (and mis-reading a
    * post-shuffle partition count as scan parallelism). At least one
    * deterministic key is required: keyless round-robin repartition
    * re-draws row placement on task retry (the SPARK-38388 class this
    * API exists to avoid).
    *
    * Fan-out width is sized from the INPUT, not a blanket constant
    * (r20's 2×parallelism shattered byte-sized inputs into 64
    * micro-tasks and anti-scaled at 32 cores — decontaminate's 8→32
    * ratio was 0.54): estimated scan bytes / 128 MB (the healthy-split
    * yardstick, guide §6), clamped to [parallelism, 2×parallelism] so a
    * small input engages every core once and a huge unsplittable one
    * gets at most two waves. */
  def scanFanout(df: DataFrame, keys: Column*): DataFrame = {
    require(keys.nonEmpty,
      "scanFanout requires at least one deterministic key column (SPARK-38388)")
    val sess = df.sparkSession
    if (sess.conf.get(ScanFanoutKey, "auto") == "off") return df
    require(!df.queryExecution.sparkPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
      "scanFanout must be applied to a raw scan (plan already contains an exchange)")
    val parallelism = sess.sparkContext.defaultParallelism
    val scanParts = df.queryExecution.toRdd.getNumPartitions // planning only, see above
    // *3, not the r20 *2: once the fixture scans split (r21 multi-row-
    // group layout, 13-way documents scans at 32 cores), the 2x
    // threshold still fired and measured a wall WASH for extra shuffle
    // bytes (frame_near_dup 4.1 vs 2.7 MB, decontaminate 0.89 vs
    // 0.02 MB, wall ±0.1 s). Fan out only for genuinely under-parallel
    // scans (< a third of the cores), where the r20 single-task A/Bs
    // showed the real wins.
    if (scanParts * 3 <= parallelism) {
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val target = ((bytes / (128L << 20)) + 1).min(2L * parallelism)
        .max(parallelism).toInt
      df.repartition(target, keys: _*)
    } else df
  }

  /** THE materialization barrier — every eager pin in graft routes
    * through this one indirection (call sites spell it
    * `df.materialized` via [[MaterializeOps]]).
    *
    * Two modes, selected by [[MaterializeModeKey]]:
    *
    *   - `local` (default): `localCheckpoint(eager = true)`. Blocks live
    *     on the executors that computed them (MEMORY_AND_DISK) and the
    *     lineage is TRUNCATED — the fast path, and the right one on
    *     local[32] or any run where losing an executor may as well fail
    *     the job. THE TRADE: on a real cluster a lost executor takes its
    *     blocks with it and the truncated lineage cannot recompute them,
    *     so ONE lost node fails every query still reading the pin. Worse
    *     than wasted work: in [[globalRowNumber]]/[[groupedRowNumber]]/
    *     [[globalPrefixSum]] the pin holds nondeterministic ids that the
    *     offsets pass already observed — a silent recompute (were the
    *     lineage not truncated) could assign DIFFERENT ids and corrupt
    *     every rank built on them. Truncation turns that silent
    *     corruption into a loud failure, but only `reliable` survives it.
    *   - `reliable`: `checkpoint(eager = true)` into
    *     `sparkContext.setCheckpointDir` — blocks are written to
    *     fault-tolerant storage (HDFS/S3 on a cluster) and survive any
    *     executor loss; re-reads are deterministic, so the pinned-ids
    *     contract holds too. Costs a write+read of the frame versus
    *     `local`'s in-memory blocks; the posture for multi-hour 100 TB
    *     runs where node loss is expected, not exceptional.
    *
    *     On the write job's apparent "double compute": `Dataset
    *     .checkpoint(eager)` runs a count job and then a SEPARATE
    *     checkpoint-write job over the plan — but nearly every pin in
    *     graft sits just downstream of an exchange, and the write job's
    *     recompute re-READS that exchange's shuffle files (map outputs
    *     outlive the first job), so only the narrow post-shuffle stage
    *     re-executes. Measured at sf0.1 the whole reliable pin is
    *     +12–15% wall on the worst pin-heavy queries (SCALEPROBE_r14
    *     §2). A transient `df.persist` around the checkpoint — the
    *     obvious "avoid recompute" move — is measurably WORSE (2–2.3×
    *     wall on the same queries): the SQL-level cache substitutes an
    *     InMemoryRelation whose columnar build costs more than the
    *     stage it saves and perturbs the planned shape. Don't add it
    *     back. For the nondeterministic-id primitives the checkpointed
    *     copy is the only copy any consumer ever observes (the eager
    *     count discards its values), so the write-job recompute is
    *     correctness-neutral; MaterializeSpec pins byte-identity.
    *
    * Both modes pin CONTENT (ids, sampled range boundaries, sort order)
    * eagerly, which is what every call site actually needs; MaterializeSpec
    * proves mode choice never changes query output. */
  def materialize(df: DataFrame): DataFrame =
    df.sparkSession.conf.get(MaterializeModeKey, "local") match {
      case "local" => df.localCheckpoint(true)
      case "reliable" =>
        require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
          s"$MaterializeModeKey=reliable requires sparkContext.setCheckpointDir " +
            "(a cluster-visible fault-tolerant path, e.g. hdfs://.../checkpoints)")
        df.checkpoint(eager = true)
      case other => sys.error(
        s"$MaterializeModeKey: unknown mode '$other' (expected local | reliable)")
    }

  /** `df.materialized` sugar for [[materialize]] — in scope wherever
    * `import Prims._` already is. */
  implicit final class MaterializeOps(private val df: DataFrame) extends AnyVal {
    def materialized: DataFrame = Prims.materialize(df)
  }

  /** Exact money/measure type: matches `CAST(x AS DECIMAL(18,2))` in DuckDB. */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Decimal-exact, order-independent sum, surfaced as a double. */
  def sumDec2(c: Column): Column = sum(dec2(c)).cast("double")

  /** Decimal-exact mean: exact sum divided by count, as a double. */
  def avgDec2(c: Column): Column =
    sum(dec2(c)).cast("double") / count(c)

  /** Epoch microseconds of a TimestampType column (matches DuckDB
    * `epoch_us(CAST(ts AS TIMESTAMP))`). */
  def epochUs(c: Column): Column = unix_micros(c)

  /** Join an array<long> deterministically as "1,2,3" (sorted ascending);
    * matches DuckDB `string_agg(x::varchar, ',' ORDER BY x)`. */
  def joinedSortedLongs(arr: Column): Column =
    array_join(transform(array_sort(arr), _.cast("string")), ",")

  /** 2^31 - 1 — modulus for all hash-sketch arithmetic (MinHash, rolling
    * fingerprints). Chosen so `a * (h % P31) + b` stays inside int64. */
  val P31 = 2147483647L

  /** Deterministic 60-bit hash both engines can compute identically:
    * first 15 hex digits of md5, parsed as an integer. DuckDB:
    * CAST('0x' || substr(md5(x),1,15) AS BIGINT). Engine-native hash
    * functions (murmur3 etc.) differ between Spark and DuckDB, so every
    * sketch is built on this one.
    *
    * Spark side is the native graft.functions.Hash60 expression (digest
    * bytes read directly — no hex-string round trip; this is the single
    * hottest scalar in the sketch family). [[hash60Composed]] keeps the
    * built-in-function spelling; Hash60Spec property-checks the two
    * against each other. Registration rides GraftExtensions (ensured by
    * Tables at first use, like qdot). */
  def hash60(c: Column): Column =
    org.apache.spark.sql.functions.call_function("hash60", c)

  /** The composed-builtins form of [[hash60]] (Spark SQL only). */
  def hash60Composed(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** DuckDB rendering of hash60 (for generated oracle SQL). */
  def hash60Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** THE whitespace tokenizer (Spark SQL form) — single definition shared
    * by every text operator (token_count, quality, repetition, split,
    * decontamination, shingling) so a tokenizer change can never make
    * two operators disagree about what a "word" is. */
  val wordsExpr = "filter(split(lower(text), ' '), w -> w <> '')"

  /** DuckDB twin of [[wordsExpr]] for generated oracle SQL. */
  val wordsSql = "list_filter(string_split(lower(text), ' '), x -> x <> '')"

  /** The `(doc_id, ws)` tokenized projection of a documents frame — the
    * ONE corpus-tokenize pass composed pipelines share. Operators that
    * consume several gram views of the same corpus (quality metrics,
    * shingle index, contamination grams) take this frame via their
    * `…FromToks` variants, so a composed plan tokenizes once instead of
    * once per stage; the composer decides whether to materialize it
    * (eager localCheckpoint: trades one tokenize pass per extra consumer
    * against corpus-sized executor-local storage — the right trade when
    * three stages would otherwise each re-split 100 TB of text). */
  def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(wordsExpr).as("ws"))

  /** Two-phase global row number over the total order given by
    * `sortCols` (which must order rows uniquely): ONE range exchange +
    * within-partition sort, then `monotonically_increasing_id()` — whose
    * low bits are exactly the record index in partition order — gives
    * each row its local rank as a narrow codegen projection; per-partition
    * counts and min-ids (a numPartitions-sized metadata collect) turn it
    * into the global rank via a broadcast offset map. Same result as an
    * unpartitioned row_number, but with no second exchange and no
    * single-partition sort: the scalable form of a global total order
    * (countWindowAll's W1 shape, shared with corpus shuffling).
    *
    * This replaced a `Window.partitionBy(partition_id)` second pass: the
    * checkpointed RDD reports UnknownPartitioning, so Catalyst inserted
    * a second full-data hash exchange just to re-cluster rows that were
    * already clustered — double shuffle volume at corpus scale.
    *
    * The eager localCheckpoint pins the sampled range boundaries, the
    * sort, and the assigned ids, so the offsets pass and the rank
    * projection see identical rows; its blocks free with the RDD — no
    * cache entry outlives this call. */
  def globalRowNumber(df: DataFrame, rnCol: String, sortCols: Column*): DataFrame = {
    val ranged = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id())
      .materialized
    val stats = ranged.groupBy("__pid")
      .agg(count(lit(1)).as("c"), min("__mid").as("m"), max("__mid").as("x"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // The rank formula needs monotonically_increasing_id to be CONSECUTIVE
    // within a partition. Spark's documented contract is only
    // monotonic+unique; consecutiveness is an implementation detail
    // (partitionId<<33 | row counter). Verify it from the same stats
    // collect so an id-scheme change fails loudly here instead of silently
    // corrupting every global ordering built on this primitive.
    stats.foreach { case (pid, (c, m, x)) =>
      if (x - m + 1 != c) throw new IllegalStateException(
        s"globalRowNumber: monotonically_increasing_id is not consecutive " +
          s"within partition $pid (count=$c, max-min+1=${x - m + 1}); the " +
          "Spark id scheme changed - the __mid rank shortcut is invalid")
    }
    val nParts = if (stats.isEmpty) 0 else stats.keys.max + 1
    val offsets = (0 until nParts)
      .scanLeft(0L)((acc, p) => acc + stats.get(p).fold(0L)(_._1)).init
    // per-partition constant folded into one literal: global rank =
    // __mid + (rows-before-partition - first-id-in-partition + 1)
    val shiftOf =
      if (nParts == 0) map(lit(0), lit(0L))
      else map((0 until nParts).flatMap { p =>
        Seq(lit(p), lit(offsets(p) - stats.get(p).fold(0L)(_._2) + 1L))
      }: _*)
    ranged
      .withColumn(rnCol, col("__mid") + element_at(shiftOf, col("__pid")))
      .drop("__pid", "__mid")
  }

  /** Two-phase PER-GROUP row number: the scalable form of
    * `row_number() OVER (PARTITION BY group ORDER BY order)` when groups
    * are FEW and HUGE (languages, sources, splits) — the exact shape
    * where `Window.partitionBy(group)` funnels an entire group through
    * one task's sort at corpus scale.
    *
    * Shape: ONE [[globalRowNumber]] pass over the (group, order) total
    * order (range exchange + within-partition sort, no single-task
    * stage), then per-group rank = global rank − the group's first
    * global rank + 1. The per-group start offsets come from a map-side-
    * combinable min aggregation — group-cardinality rows, metadata-sized
    * under the few-huge-groups contract — and join back as a broadcast,
    * so the big side never exchanges again.
    *
    * `orderCols` need not be unique within a group: ties get distinct
    * consecutive ranks deterministically within a run (the range
    * partitioner and partition sort are deterministic), but WHICH tied
    * row gets which rank is not a cross-engine contract — callers that
    * hash-compare against an oracle must either make the order unique or
    * read only tie-invariant values (e.g. the ordering column itself at
    * a given rank, as the quantile computation does).
    *
    * NOT the right tool for a bounded small-K top-K per group: the
    * window form's WindowGroupLimit prunes to K rows per group per map
    * task BEFORE its exchange, which this full-ranking pass cannot do.
    * Use this when ranks beyond a small constant K are consumed, or when
    * K is data-dependent.
    *
    * Group keys are matched through a `\u0001`-joined string rendering
    * (so multi-column groups ride one broadcast key); group values must
    * not themselves contain that character. */
  def groupedRowNumber(df: DataFrame, rnCol: String, groupCols: Seq[String],
                       orderCols: Column*): DataFrame = {
    val sortCols = groupCols.map(col) ++ orderCols
    val gkey = concat_ws("\u0001", groupCols.map(c => col(c).cast("string")): _*)
    val ranged = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id())
      .materialized
    // ONE metadata collect covers both phases: per-(partition, group-run)
    // counts and id bounds. Range partitioning by (group, order) keeps
    // each group's rows in contiguous runs, so this is at most
    // nPartitions + nGroups - 1 rows — metadata-sized under the
    // few-huge-groups contract.
    val stats = ranged.groupBy(col("__pid"), gkey.as("__g"))
      .agg(count(lit(1)).as("c"), min("__mid").as("m"), max("__mid").as("x"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val byPid = stats.groupBy(_._1).map { case (pid, rs) =>
      pid -> (rs.map(_._3).sum, rs.map(_._4).min, rs.map(_._5).max)
    }
    // same consecutive-id invariant as globalRowNumber, per partition
    byPid.foreach { case (pid, (c, m, x)) =>
      if (x - m + 1 != c) throw new IllegalStateException(
        s"groupedRowNumber: monotonically_increasing_id is not consecutive " +
          s"within partition $pid (count=$c, max-min+1=${x - m + 1}); the " +
          "Spark id scheme changed - the __mid rank shortcut is invalid")
    }
    val nParts = if (byPid.isEmpty) 0 else byPid.keys.max + 1
    val offsets = (0 until nParts)
      .scanLeft(0L)((acc, p) => acc + byPid.get(p).fold(0L)(_._1)).init
    // shift turns __mid into the 1-based GLOBAL rank (globalRowNumber's
    // formula); each group's start rank — min over its runs of the run
    // head's global rank — then rebases it to the per-group rank
    def shift(pid: Int) = offsets(pid) - byPid(pid)._2 + 1L
    val shiftOf =
      if (nParts == 0) map(lit(0), lit(0L))
      else map((0 until nParts).flatMap(p => Seq(lit(p), lit(shift(p)))): _*)
    val gstarts = stats.groupBy(_._2).map { case (g, rs) =>
      (g, rs.map { case (pid, _, _, m, _) => m + shift(pid) }.min)
    }.toSeq
    val sess = df.sparkSession
    import sess.implicits._
    val gstartDf = broadcast(gstarts.toDF("__g", "__gstart"))
    ranged
      .withColumn("__g", gkey)
      .join(gstartDf, "__g")
      .withColumn(rnCol,
        col("__mid") + element_at(shiftOf, col("__pid")) - col("__gstart") + lit(1L))
      .drop("__g", "__pid", "__mid")
  }

  /** Two-phase EXCLUSIVE global prefix sum of `valCol` (a LongType
    * column) over the total order given by `sortCols` — the scalable
    * form of `sum(v) OVER (ORDER BY ... ROWS BETWEEN UNBOUNDED PRECEDING
    * AND 1 PRECEDING)`. Same offsets shape as [[globalRowNumber]], with
    * per-partition SUMS in place of counts.
    *
    * Unlike the rank case there is no id trick for a running sum, so the
    * second pass is a sorted-partition mapPartitions scan rather than a
    * `Window.partitionBy(partition_id)`: the window form would force a
    * second full-data hash exchange (the checkpointed RDD reports
    * UnknownPartitioning, so Catalyst cannot know rows are already
    * clustered) — at corpus scale that exchange dominates, so the narrow
    * scan trades whole-stage codegen for halving shuffle volume. A
    * running accumulator over an already-sorted partition is genuinely
    * per-partition imperative logic — the sanctioned mapPartitions case. */
  def globalPrefixSum(df: DataFrame, valCol: String, outCol: String,
                      sortCols: Column*): DataFrame = {
    val valIdx = df.schema.fieldIndex(valCol)
    val ranged = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      // same pinning rationale as globalRowNumber: the sums pass and the
      // scan pass must see identical, identically-ordered partitions
      .materialized
    val sums = ranged
      .groupBy(spark_partition_id().as("__pid")).agg(sum(col(valCol)).as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nParts = if (sums.isEmpty) 0 else sums.keys.max + 1
    val offsets = (0 until nParts)
      .scanLeft(0L)((acc, p) => acc + sums.getOrElse(p, 0L)).init.toArray
    val outSchema = org.apache.spark.sql.types.StructType(
      ranged.schema.fields :+
        org.apache.spark.sql.types.StructField(outCol, org.apache.spark.sql.types.LongType,
          nullable = false))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    ranged.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var acc = if (pid < offsets.length) offsets(pid) else 0L
      it.map { r =>
        val cur = acc
        acc += r.getLong(valIdx)
        Row.fromSeq(r.toSeq :+ cur)
      }
    }
  }
}
