package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Prims._

/** Training-data deduplication over the `documents` table: exact
  * (content-hash), MinHash+LSH near-dup, SimHash, and n-gram Jaccard.
  *
  * Scale posture (the 100 TB contract):
  *   - NO all-pairs comparison anywhere. Candidate pairs come only from
  *     LSH band buckets (minhash) or an inverted shingle index with a
  *     document-frequency cap (jaccard) — both shuffle on
  *     sketch/shingle keys, so work is proportional to collisions, not n².
  *   - Every sketch is a groupBy aggregation with map-side partial
  *     aggregation; the shingle explode is a narrow map stage.
  *   - All hashing goes through Prims.hash60 (md5-based) with int64
  *     modular arithmetic, so the DuckDB oracle reproduces every value
  *     bit-for-bit.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the lowest doc_id.
    * (ref: the reference dedups nothing itself; this is the M5/north-star
    * surface — hash-groupBy is the canonical exact-dedup at any scale.) */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("content_hash")

  // ---- shared shingling ----------------------------------------------

  /** Raw (doc_id, shingle) instances, duplicates included — the narrow
    * explode stage both shingle consumers ([[shingleHashesFromToks]] and
    * [[minhashSig]]) derive from; each applies its own dedup discipline
    * downstream (hash-then-distinct / duplicate-insensitive min). */
  private def shingleExplodeFromToks(toks: DataFrame): DataFrame =
    toks
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ws) - 2),
          |  i -> concat(element_at(ws, i), ' ',
          |              element_at(ws, i + 1), ' ',
          |              element_at(ws, i + 2)))""".stripMargin)).as("s"))

  /** Distinct `(doc_id, hash60(shingle))` rows — the Jaccard inverted
    * index's unit. The hash is applied BEFORE the distinct, so the
    * distinct's exchange moves 16-byte (int64, int64) rows instead of
    * ~40-char shingle strings (measured: −14% total shuffle bytes for
    * every pair-graph query at sf0.1, 17.7 → 15.2 MB; the remainder is
    * the index self-join and pair aggregation, already int64-keyed). A
    * 60-bit collision can merge two of a doc's shingles (perturbing that
    * doc's Jaccard denominator by 1); the oracle applies the identical
    * hash-then-distinct, so both engines see the same sets bit-for-bit
    * regardless. ([[minhashSig]] needs no distinct at all — min over the
    * hash multiset equals min over the set — so it consumes the raw
    * explode directly; this per-doc distinct exists because Jaccard
    * denominators COUNT a doc's distinct shingles.) */
  private def shingleHashesFromToks(toks: DataFrame): DataFrame =
    shingleExplodeFromToks(toks)
      .select(col("doc_id"), hash60(col("s")).as("hs"))
      .distinct()

  /** The inverted shingle index's build, from a documents frame — the
    * layout seam: on a corpus BUCKETED by doc_id (storage.Layout), the
    * explode preserves the scan's hash partitioning, HashPartitioning
    * (doc_id) satisfies the distinct's ClusteredDistribution(doc_id, hs)
    * (co-partitioning on a subset of the grouping keys co-locates every
    * duplicate), and the index builds with ZERO exchanges — the write-
    * time shuffle replaces the per-run one (LayoutSpec pins the plan). */
  private[graft] def shingleIndexFromDocs(docs: DataFrame): DataFrame =
    shingleHashesFromToks(Prims.tokenized(docs))

  /** DuckDB twin of `shingles` as a WITH-clause body over `documents`. */
  private[graft] val shinglesSql: String =
    s"""w AS (SELECT doc_id, $wordsSql AS ws
      |      FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |       FROM w, unnest(range(1, len(ws) - 1)) AS t(i))""".stripMargin

  // ---- MinHash + LSH --------------------------------------------------

  private[graft] val NumHashes = 16
  private[graft] val BandRows = 4
  private[graft] val NumBands = NumHashes / BandRows
  private[graft] def aCoef(j: Int): Long = 2L * j + 3
  private[graft] def bCoef(j: Int): Long = 7919L * j + 31

  /** Max docs sharing one (band, band-signature) bucket before the bucket
    * DEGRADES from all-pairs to representative pairs: a bucket with
    * m ≤ cap members self-joins into its m(m-1)/2 candidate pairs; a
    * bucket over the cap instead emits the m-1 pairs (bucket-min doc,
    * member) — still O(m), so a degenerate bucket (mass-replicated
    * boilerplate sharing a trivial signature) cannot go O(m²), the skew
    * killer at 100 TB. Unlike dropping the bucket outright (which would
    * silently exempt exactly the giant duplicate groups dedup most needs
    * to catch), the star keeps every member attached to one hub, so
    * connected-components still collapses the whole group; only the
    * non-hub pairwise est_jaccard values are forgone. Same cap family as
    * [[MaxShingleDf]] and `StreamingNearDup.MaxBucket`. */
  private[graft] val MaxBandBucket = 100

  /** Per-doc 16-component MinHash signature (columns mh0..mh15), as ONE
    * narrow projection + ONE map-side-combinable aggregation: the hash
    * is computed per raw (doc, shingle) INSTANCE and min-aggregated
    * straight onto the doc key. MinHash is a MIN over permuted hashes,
    * and min is duplicate-insensitive — so neither the per-doc shingle
    * DISTINCT nor a distinct-shingle dictionary can change any
    * signature, and both are pure overhead: through round 9 this path
    * shuffled the string shingle table twice (a corpus-wide distinct +
    * a string-keyed dictionary join, rationalized as hash-once-per-
    * distinct-shingle) before the doc aggregation; per-instance md5 is
    * ~100 ns/shingle of embarrassingly-parallel map CPU, while those
    * exchanges are petabyte-class at 100 TB. Partial aggregation
    * collapses each doc to one 16-column row per map task, so the ONLY
    * exchange moves ~one row per document. The oracle (min over the
    * DISTINCT shingle set) is unchanged — same min, bit-for-bit. */
  private[graft] def minhashSig(docs: DataFrame): DataFrame =
    minhashSigFromToks(Prims.tokenized(docs))

  /** [[minhashSig]] over a pre-tokenized `(doc_id, ws)` frame — the
    * shared-scan form, so a composed pipeline that also builds the
    * shingle index (minhash_calibration) tokenizes the corpus once. */
  private def minhashSigFromToks(toks: DataFrame): DataFrame = {
    val hs = shingleExplodeFromToks(toks)
      .select(col("doc_id"), pmod(hash60(col("s")), lit(P31)).as("hm"))
    val aggs = (0 until NumHashes).map(j =>
      min(pmod(lit(aCoef(j)) * col("hm") + lit(bCoef(j)), lit(P31))).as(s"mh$j"))
    hs.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Near-dup candidate pairs via banded LSH: docs sharing any 4-row band
    * bucket, with the minhash-estimated Jaccard. The only join is on
    * (band, band-signature) — bucket-local, never all-pairs. */
  def dedupNearMinhash(s: SparkSession, dir: String): DataFrame =
    minhashCandidatesWithMatches(s, dir)
      .select(col("doc_a"), col("doc_b"),
        (col("matches").cast("double") / NumHashes).as("est_jaccard"))
      .orderBy("doc_a", "doc_b")

  /** LSH candidate pairs with their raw signature-match count (0..16) —
    * the shared core of [[dedupNearMinhash]] (estimate surface) and
    * [[minhashCalibration]] (estimator audit). */
  private def minhashCandidatesWithMatches(s: SparkSession, dir: String): DataFrame =
    minhashCandidatesWithMatchesFromToks(
      Prims.tokenized(Tables.documents(s, dir)))

  /** [[minhashCandidatesWithMatches]] over a pre-tokenized frame (the
    * shared-scan form for [[minhashCalibration]]). */
  private def minhashCandidatesWithMatchesFromToks(toks: DataFrame): DataFrame = {
    // the signature table is referenced three times (banding + both join
    // sides); eager localCheckpoint materializes it once and frees with
    // the RDD — no cache entry outlives the call (OpsSpec leak guard)
    val sig = minhashSigFromToks(toks).materialized
    // band signature = hash60 of the comma-joined band values: an int64
    // join/aggregation key instead of a ~40-char string, so the bucket
    // exchange moves 8-byte keys (the same key-narrowing as the n-gram
    // index; the oracle applies the identical hash, so a 60-bit
    // collision — two bands binned together spuriously — is mirrored
    // bit-for-bit on both engines and only ever ADDS a candidate pair)
    // ONE posexplode pass instead of a NumBands-way union of pin
    // re-reads (r20): identical rows, one scan of the pinned signature
    // table, and downstream stages keep the pin's task count instead of
    // NumBands× it (each union branch contributed its own copy of the
    // pin's partitions to every consumer stage).
    val bands = sig.select(col("doc_id"),
        posexplode(array((0 until NumBands).map(k =>
          hash60(concat_ws(",",
            (0 until BandRows).map(r => col(s"mh${BandRows * k + r}")): _*))): _*)))
      .toDF("doc_id", "band", "bsig")
    // hot-bucket guard: size each (band, bsig) bucket first (bands is
    // narrow compute over the checkpointed sig, so the extra pass is
    // cheap; the count is a map-side-combinable aggregation). Buckets
    // ≤ MaxBandBucket self-join into full pairs; hot buckets degrade to
    // the O(m) star on their minimum doc_id — see the cap's scaladoc.
    val bstats = bands.groupBy("band", "bsig")
      .agg(count(lit(1)).as("bn"), min("doc_id").as("bmin"))
    val kept = bands.join(
      bstats.filter(col("bn") <= MaxBandBucket).select("band", "bsig"),
      Seq("band", "bsig"))
    val fullPairs = kept.as("x").join(kept.as("y"),
        col("x.band") === col("y.band") && col("x.bsig") === col("y.bsig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val starPairs = bands.join(
        bstats.filter(col("bn") > MaxBandBucket).select("band", "bsig", "bmin"),
        Seq("band", "bsig"))
      .filter(col("doc_id") =!= col("bmin")) // bmin is the min, so bmin < doc_id
      .select(col("bmin").as("doc_a"), col("doc_id").as("doc_b"))
    val pairs = fullPairs.unionByName(starPairs).distinct()
    val sa = sig.toDF("doc_a" +: (0 until NumHashes).map(j => s"a$j"): _*)
    val sb = sig.toDF("doc_b" +: (0 until NumHashes).map(j => s"b$j"): _*)
    val eqCount = (0 until NumHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"), eqCount.cast("long").as("matches"))
  }

  /** minhash_calibration: the estimator-quality audit a dedup pipeline
    * runs before trusting a threshold — for every LSH candidate pair,
    * compare the 16-hash MinHash estimate against the EXACT shingle
    * Jaccard and histogram the absolute error into deciles. This is how
    * you pick (bands, rows, threshold) empirically: the table says "at
    * est ≥ 0.5, how wrong can we be, how often".
    *
    * Scale shape: the candidate set comes from the banded LSH core
    * (bucket-bounded, never all-pairs); the exact intersection joins
    * the pair list to the per-doc distinct shingle-hash table twice —
    * both joins int64-keyed, work proportional to candidate-pair
    * shingle mass, not corpus². Only exact ints are aggregated
    * (sum_matches / sum_inter / sum_union); the error bucket is
    * floor(|m/16 − i/u|·10) — two int÷int IEEE divisions both engines
    * reproduce bit-for-bit. */
  def minhashCalibration(s: SparkSession, dir: String): DataFrame = {
    // ONE corpus tokenize pass (pinned) feeds BOTH fronts — the LSH
    // signature and the exact shingle index — which previously each
    // re-scanned and re-split the text (r20: −0.5 s at sf0.1; at corpus
    // scale it halves the tokenize passes of the audit). Same pin
    // discipline as curateStages' shared toks.
    val toks = Prims.tokenized(Tables.documents(s, dir)).materialized
    val cands = minhashCandidatesWithMatchesFromToks(toks).materialized
    val shr = shingleHashesFromToks(toks)
      .materialized
    val sizes = shr.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cands
      .join(shr.toDF("doc_a", "hs"), Seq("doc_a"))
      .join(shr.toDF("doc_b", "hs"), Seq("doc_b", "hs"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    cands
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sizes.toDF("doc_a", "na"), Seq("doc_a"))
      .join(sizes.toDF("doc_b", "nb"), Seq("doc_b"))
      .select(col("matches"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("union_n"),
        floor(abs(col("matches").cast("double") / NumHashes
          - col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          * 10).cast("long").as("err_decile"))
      .groupBy("err_decile")
      .agg(count(lit(1)).as("n_pairs"),
        sum("matches").as("sum_matches"),
        sum("inter").as("sum_inter"),
        sum("union_n").as("sum_union"))
      .orderBy("err_decile")
  }

  def minhashCalibrationSql: String = {
    val estSql = dedupNearMinhashSql
    // reuse the near-minhash pipeline verbatim up to its SELECT: wrap it
    // as a candidates CTE and attach the exact-Jaccard audit
    s"""WITH cand AS (
       |  SELECT doc_a, doc_b, CAST(round(est_jaccard * $NumHashes) AS BIGINT) AS matches
       |  FROM ($estSql)
       |),
       |w2 AS (SELECT doc_id, $wordsSql AS ws FROM documents),
       |sh2 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
       |  FROM w2, unnest(range(1, len(ws) - 1)) AS t(i)),
       |hsh2 AS (SELECT DISTINCT doc_id, ${Prims.hash60Sql("s")} AS hs FROM sh2),
       |sz AS (SELECT doc_id, count(*) AS n FROM hsh2 GROUP BY doc_id),
       |iv AS (SELECT cand.doc_a, cand.doc_b, count(*) AS inter
       |  FROM cand
       |  JOIN hsh2 a ON a.doc_id = cand.doc_a
       |  JOIN hsh2 b ON b.doc_id = cand.doc_b AND b.hs = a.hs
       |  GROUP BY 1, 2),
       |sc AS (SELECT matches, coalesce(inter, 0) AS inter,
       |    sa.n + sb.n - coalesce(inter, 0) AS union_n
       |  FROM cand
       |  LEFT JOIN iv USING (doc_a, doc_b)
       |  JOIN sz sa ON sa.doc_id = cand.doc_a
       |  JOIN sz sb ON sb.doc_id = cand.doc_b)
       |SELECT CAST(floor(abs(CAST(matches AS DOUBLE) / $NumHashes
       |    - CAST(inter AS DOUBLE) / union_n) * 10) AS BIGINT) AS err_decile,
       |  count(*) AS n_pairs,
       |  CAST(sum(matches) AS BIGINT) AS sum_matches,
       |  CAST(sum(inter) AS BIGINT) AS sum_inter,
       |  CAST(sum(union_n) AS BIGINT) AS sum_union
       |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin
  }

  def dedupNearMinhashSql: String = {
    val mins = (0 until NumHashes).map(j =>
      s"min((${aCoef(j)} * hm + ${bCoef(j)}) % $P31) AS mh$j").mkString(",\n    ")
    val bandSelects = (0 until NumBands).map { k =>
      val cat = (0 until BandRows).map(r => s"CAST(mh${BandRows * k + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $k AS band, ${hash60Sql(s"($cat)")} AS bsig FROM sig"
    }.mkString("\n  UNION ALL ")
    val eq = (0 until NumHashes)
      .map(j => s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $shinglesSql,
       |h AS (SELECT doc_id, ${hash60Sql("s")} % $P31 AS hm FROM sh),
       |sig AS (SELECT doc_id,
       |    $mins
       |  FROM h GROUP BY doc_id),
       |bands AS (
       |  $bandSelects
       |),
       |bstats AS (SELECT band, bsig, count(*) AS bn, min(doc_id) AS bmin
       |  FROM bands GROUP BY band, bsig),
       |bk AS (SELECT bands.doc_id, bands.band, bands.bsig
       |  FROM bands JOIN bstats USING (band, bsig) WHERE bn <= $MaxBandBucket),
       |star AS (SELECT bstats.bmin AS doc_a, bands.doc_id AS doc_b
       |  FROM bands JOIN bstats USING (band, bsig)
       |  WHERE bn > $MaxBandBucket AND bands.doc_id <> bstats.bmin),
       |pairs AS (SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bk x JOIN bk y
       |    ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id
       |  UNION ALL SELECT doc_a, doc_b FROM star))
       |SELECT doc_a, doc_b, CAST($eq AS DOUBLE) / $NumHashes AS est_jaccard
       |FROM pairs JOIN sig a ON doc_a = a.doc_id JOIN sig b ON doc_b = b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---- SimHash --------------------------------------------------------

  private val SimBits = 16

  /** 16-bit SimHash fingerprint per doc + size of its exact-fingerprint
    * dup group. One narrow hash projection + ONE map-side-combinable
    * groupBy(doc_id), then a tiny self-aggregation on fingerprint: each
    * token INSTANCE votes ±1 per bit directly into the doc's sums —
    * integer addition is order-independent, so the totals equal the
    * former multiplicity-weighted form bit-for-bit. (Through round 9
    * this path pre-grouped on (doc_id, word) and joined a distinct-word
    * dictionary — two string-keyed exchanges rationalized as
    * hash-once-per-distinct-word; like [[minhashSig]], per-instance md5
    * is map CPU while those exchanges are the 100 TB cost. Partial
    * aggregation ships ~one 16-column row per doc per map task.) */
  def simhashDedup(s: SparkSession, dir: String): DataFrame = {
    val withFp = simhashFps(s, dir)
    val groupSizes = withFp.groupBy("simhash").agg(count(lit(1)).as("n_same"))
    withFp.join(groupSizes, "simhash")
      .select("doc_id", "simhash", "n_same")
      .orderBy("doc_id")
  }

  /** (doc_id, simhash) — the fingerprint core shared by [[simhashDedup]]
    * and [[simhashHammingPairs]], at the fixture width. */
  private def simhashFps(s: SparkSession, dir: String): DataFrame =
    simhashFpsImpl(s, dir, SimBits)

  /** [[simhashFps]] at an arbitrary fingerprint WIDTH — the
    * parameterized core behind the fixture-width query (16-bit,
    * oracle-mirrored bit-for-bit: on non-negative hashes the logical
    * shift and bitwise-OR below equal the oracle's arithmetic shift
    * and sum of distinct powers) and the production-width probe
    * (docs/SCALEPROBE_r10.md: 64-bit fingerprints, Manku et al.'s
    * configuration). The 64-bit token hash is xxhash64 — full-range,
    * sign bit included; every bit extraction is logical-shift + mask,
    * so a negative hash is just a 64-bit pattern, never an arithmetic
    * value. */
  private[graft] def simhashFpsImpl(s: SparkSession, dir: String,
                                    bits: Int): DataFrame = {
    require(bits == SimBits || bits == 64, s"unsupported simhash width: $bits")
    val tokHash = if (bits == SimBits) pmod(hash60(col("w")), lit(1L << SimBits))
                  else xxhash64(col("w"))
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(expr(wordsExpr)).as("w"))
      .select(col("doc_id"), tokHash.as("h"))
    val bitSums = (0 until bits).map(b =>
      sum(shiftrightunsigned(col("h"), b) % 2 * 2 - 1).as(s"s$b"))
    val fp = (0 until bits).map(b =>
      when(col(s"s$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** Max Hamming distance for [[simhashHammingPairs]] to report a pair. */
  private val SimHammingK = 3

  /** simhash_hamming_pairs: near-duplicate PAIRS by SimHash Hamming
    * distance ≤ [[SimHammingK]] — the search SimHash exists for (Manku
    * et al., WWW'07 "Detecting near-duplicates for web crawling" —
    * public paper; design re-derived, no code): exact-fingerprint
    * grouping ([[simhashDedup]]) misses docs whose fingerprints differ
    * in a few bits, which is precisely how SimHash encodes "nearly the
    * same bag of tokens". Candidates come from banding the fingerprint
    * into [[SimHammingK]]+1 = 4 sub-bands (pigeonhole: ≤ 3 differing
    * bits cannot touch all 4 bands, so every qualifying pair shares at
    * least one full band value) and bucket-joining on (band, value);
    * the exact `bit_count(xor)` check then filters candidates to true
    * ≤ K pairs. Buckets over [[MaxBandBucket]] degrade to hub-star
    * (the family's standard cap), and a pair matching several bands is
    * collapsed by the final distinct.
    *
    * Scale note: at the fixture's [[SimBits]] = 16, band values span
    * only 4 bits, so buckets are corpus-fraction-sized and the cap
    * does the heavy lifting; a production deployment uses a 64-bit
    * fingerprint with 16-bit bands (the paper's configuration), where
    * buckets are genuinely sparse — [[simhashHammingPairsImpl]] takes
    * the widths as parameters; docs/SCALEPROBE_r10.md records the
    * 64/16 configuration on the 10× replica. */
  def simhashHammingPairs(s: SparkSession, dir: String): DataFrame =
    simhashHammingPairsImpl(s, dir, SimBits, SimHammingK)

  /** [[simhashHammingPairs]] at arbitrary (fingerprint width, max
    * Hamming distance): bands = hammingK+1 equal slices of the
    * fingerprint (pigeonhole), identical machinery at every width. */
  private[graft] def simhashHammingPairsImpl(s: SparkSession, dir: String,
                                             bits: Int, hammingK: Int): DataFrame =
    hammingPairs(simhashFpsImpl(s, dir, bits), "simhash", bits, hammingK)

  /** The banded Hamming-pair core over ANY (doc_id, fingerprint) frame
    * — pigeonhole banding, [[MaxBandBucket]] hub-star cap, exact
    * `bit_count(xor)` verification — shared by the SimHash text path
    * and the perceptual-hash image path
    * ([[graft.ops.Multimodal.phashNearDup]]): "find fingerprints within
    * Hamming k" is one problem regardless of what produced the bits.
    * Never all-pairs; the only join is bucket-local on (band, value). */
  private[graft] def hammingPairs(fps0: DataFrame, fpCol: String,
                                  bits: Int, hammingK: Int): DataFrame =
    hammingPairsUnordered(fps0, fpCol, bits, hammingK)
      .orderBy("doc_a", "doc_b")

  /** [[hammingPairs]] without the final presentation sort — for
    * consumers that AGGREGATE the pair set next (calibration deciles,
    * per-doc-pair frame counts): a range exchange feeding a groupBy is
    * pure overhead. */
  private[graft] def hammingPairsUnordered(fps0: DataFrame, fpCol: String,
                                  bits: Int, hammingK: Int): DataFrame = {
    val nBands = hammingK + 1
    val bandBits = bits / nBands
    require(nBands * bandBits == bits,
      s"fingerprint width $bits must split evenly into $nBands bands")
    val bandMask = (1L << bandBits) - 1
    // referenced by all band projections + both join sides: pin the
    // doc-sized (doc_id, fingerprint) table once; blocks free with the RDD
    val fps = fps0.select(col("doc_id"), col(fpCol).as("simhash")).materialized
    // ONE posexplode pass instead of an nBands-way union of pin re-reads
    // (r20): the union form scanned the pinned table nBands times and
    // multiplied every downstream stage's task count by nBands (each
    // union branch contributes the pin's partitions); the explode emits
    // the same (doc_id, simhash, band, bval) rows in a single narrow
    // pass with the pin's own partition count. Row set identical.
    val bands = fps.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until nBands).map(k =>
          shiftrightunsigned(col("simhash"), bandBits * k)
            .bitwiseAND(lit(bandMask))): _*)))
      .toDF("doc_id", "simhash", "band", "bval")
    val bstats = bands.groupBy("band", "bval")
      .agg(count(lit(1)).as("bn"), min("doc_id").as("bmin"),
        min_by(col("simhash"), col("doc_id")).as("minfp"))
    val kept = bands.join(
      bstats.filter(col("bn") <= MaxBandBucket).select("band", "bval"),
      Seq("band", "bval"))
    val full = kept.as("a").join(kept.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)").as("hamming"))
    val star = bands.join(
        bstats.filter(col("bn") > MaxBandBucket).select("band", "bval", "bmin", "minfp"),
        Seq("band", "bval"))
      .filter(col("doc_id") =!= col("bmin")) // bmin is the bucket min, so doc_a < doc_b
      .select(col("bmin").as("doc_a"), col("doc_id").as("doc_b"),
        expr("CAST(bit_count(minfp ^ simhash) AS BIGINT)").as("hamming"))
    full.unionByName(star)
      .filter(col("hamming") <= hammingK)
      .distinct()
  }

  /** DuckDB CTE chain producing `fps(doc_id, simhash)` — the oracle twin
    * of [[simhashFps]], shared by both SimHash oracles. */
  private def simhashFpsCtesSql: String = {
    val sums = (0 until SimBits).map(b =>
      s"sum((h >> $b) % 2 * 2 - 1) AS s$b").mkString(",\n    ")
    val fp = (0 until SimBits).map(b =>
      s"CASE WHEN s$b >= 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"""toks AS (
       |  SELECT doc_id, ${hash60Sql("w")} % 65536 AS h FROM (
       |    SELECT doc_id, unnest($wordsSql) AS w
       |    FROM documents) t),
       |sums AS (SELECT doc_id,
       |    $sums
       |  FROM toks GROUP BY doc_id),
       |fps AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM sums)""".stripMargin
  }

  def simhashDedupSql: String =
    s"""WITH $simhashFpsCtesSql,
       |gs AS (SELECT simhash, count(*) AS n_same FROM fps GROUP BY simhash)
       |SELECT doc_id, fps.simhash, n_same FROM fps JOIN gs ON fps.simhash = gs.simhash
       |ORDER BY doc_id""".stripMargin

  def simhashHammingPairsSql: String =
    s"""WITH $simhashFpsCtesSql,
       |bands AS (SELECT doc_id, simhash, CAST(t.band AS INT) AS band,
       |    (simhash >> (4 * CAST(t.band AS INT))) & 15 AS bval
       |  FROM fps, unnest(range(0, ${SimHammingK + 1})) AS t(band)),
       |bstats AS (SELECT band, bval, count(*) AS bn, min(doc_id) AS bmin,
       |    arg_min(simhash, doc_id) AS minfp
       |  FROM bands GROUP BY band, bval),
       |bk AS (SELECT bands.doc_id, bands.simhash, bands.band, bands.bval
       |  FROM bands JOIN bstats USING (band, bval) WHERE bn <= $MaxBandBucket),
       |fullp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    bit_count(xor(a.simhash, b.simhash)) AS hamming
       |  FROM bk a JOIN bk b
       |    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id),
       |starp AS (SELECT bstats.bmin AS doc_a, bands.doc_id AS doc_b,
       |    bit_count(xor(bstats.minfp, bands.simhash)) AS hamming
       |  FROM bands JOIN bstats USING (band, bval)
       |  WHERE bn > $MaxBandBucket AND bands.doc_id <> bstats.bmin)
       |SELECT DISTINCT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
       |FROM (SELECT * FROM fullp UNION ALL SELECT * FROM starp)
       |WHERE hamming <= $SimHammingK
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- n-gram Jaccard -------------------------------------------------

  /** Max document frequency for a shingle to participate in candidate
    * generation — the standard inverted-index guard: a shingle shared by
    * everything generates O(n²) pairs and carries no signal. */
  private val MaxShingleDf = 100

  /** Unsorted Jaccard-pair core shared by the query form (adds the
    * deterministic ORDER BY) and the cluster resolver (doesn't need
    * order — a global sort would force the whole pipeline to run twice
    * via the range-partitioner sampling pass).
    *
    * The inverted index is keyed on `hash60(shingle)` (int64), not the
    * shingle STRING: every downstream exchange (df-cap aggregation,
    * both sides of the index self-join) then moves 8-byte keys instead
    * of ~25-byte 3-word strings — at corpus scale the index join's
    * shuffle is the dominant byte volume, so this is a ~3× cut. A
    * 60-bit collision between two distinct shingles co-occurring in one
    * doc pair would inflate that pair's intersection by one — vanishing
    * probability, and the oracle applies the SAME hash, so both engines
    * agree bit-for-bit regardless. */
  private[graft] def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame =
    // documentsRaw, not documents: the pair core's exchanges are
    // shingle-hash-keyed, so the doc_id serving layout is definitionally
    // neutral here and only pins the scan-side DISTINCT to bucket-count
    // parallelism (Tables.documentsRaw's scaladoc has the r14 numbers)
    ngramJaccardPairsFromToks(s, Prims.tokenized(Tables.documentsRaw(s, dir)))

  /** Candidate (doc_a < doc_b) pairs sharing ≥1 rare shingle, with the
    * exact intersection count and both docs' distinct-shingle sizes —
    * the inverted-index core shared by the Jaccard and containment
    * reporters (each applies its own similarity metric over these same
    * columns). */
  private def ngramPairCore(toks: DataFrame): DataFrame = {
    val sh = shingleHashesFromToks(toks)
    val rare = sh.groupBy("hs").agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxShingleDf)
      .select("hs")
    // referenced three times (sizes + both sides of the index self-join):
    // localCheckpoint, not cache — see the leak note in dedupNearMinhash.
    // (r20 probed removing this pin in favor of ReuseExchange: shuffle
    // bytes ROSE 15.9 → 19.5 MB — the un-pinned consumers do not in fact
    // share exchanges across the join subtrees — and wall was flat-to-
    // worse. The pin stays.)
    // (r21 probed replacing the self-join with BUCKETED POSTINGS:
    // groupBy(hs).sort_array(collect_list(doc_id)) over the rare-filtered
    // index — bounded ≤ MaxShingleDf per list — then an i<j array-comb
    // explode for pairs and an explode+count for sizes. Shuffle ROSE
    // 14.8 → 18.2 MB and wall +0.2–0.5 s family-wide: the pinned
    // self-join's two sides plan ONE ReusedExchange, so the "two heavy
    // exchanges" the rewrite removes are already one, while partial
    // collect_list lists serialize with per-array overhead and collapse
    // nothing. Not kept — fifth structural variant rejected on numbers.)
    val shr = sh.join(rare, "hs").materialized
    val sizes = shr.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = shr.as("a").join(shr.as("b"),
        col("a.hs") === col("b.hs") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val na = sizes.toDF("doc_a", "na")
    val nb = sizes.toDF("doc_b", "nb")
    inter.join(na, "doc_a").join(nb, "doc_b")
  }

  /** [[ngramJaccardPairs]] over a pre-tokenized `(doc_id, ws)` frame
    * (shared-scan form for composed pipelines). */
  private[graft] def ngramJaccardPairsFromToks(s: SparkSession, toks: DataFrame): DataFrame =
    ngramPairCore(toks)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("union_n"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)

  /** Partition count for a materialized pair graph, sized from its
    * MEASURED edge count: ~1M edges (≈16 MB of id pairs) per task, floor
    * 4 so a small graph still engages a few cores. A hardcoded constant
    * here is the classic scale trap — right for the dozens-of-survivors
    * fixture, then a billion-edge graph at 100 TB runs every
    * propagation round at that same tiny parallelism. */
  private[graft] def pairGraphPartitions(edges: Long): Int =
    math.max(4L, edges / 1000000L).toInt

  /** Exact 3-gram Jaccard for candidate pairs from an inverted shingle
    * index (pairs sharing ≥1 rare shingle), reported at >= 0.5.
    * The survivor set is materialized (lineage-truncating checkpoint at
    * the join's natural partitioning) before the deterministic ORDER BY
    * so the range-partitioner's sampling pass doesn't re-run the
    * expensive inverted-index join. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(s, dir).materialized
      .orderBy("doc_a", "doc_b")

  def ngramJaccardSql: String =
    s"""WITH $shinglesSql,
       |hsh AS (SELECT DISTINCT doc_id, ${hash60Sql("s")} AS hs FROM sh),
       |rare AS (SELECT hs FROM hsh GROUP BY hs HAVING count(*) <= $MaxShingleDf),
       |shr AS (SELECT hsh.doc_id, hsh.hs FROM hsh JOIN rare USING (hs)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shr GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM shr a JOIN shr b ON a.hs = b.hs AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, inter, na.n + nb.n - inter AS union_n,
       |  CAST(inter AS DOUBLE) / (na.n + nb.n - inter) AS jaccard
       |FROM inter JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- asymmetric containment -----------------------------------------

  /** Containment threshold: |A∩B| / min(|A|, |B|) at or above this
    * marks the smaller shingle set as (mostly) inside the larger one. */
  private[graft] val ContainTau = 0.6

  /** [[containmentPairs]] over a pre-tokenized frame (shared-scan /
    * spec-injection form). */
  private[graft] def containmentPairsFromToks(s: SparkSession, toks: DataFrame): DataFrame =
    ngramPairCore(toks)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("na").as("n_a"), col("nb").as("n_b"),
        (col("inter").cast("double") / least(col("na"), col("nb"))).as("containment"))
      .filter(col("containment") >= ContainTau)

  /** containment_pairs: ASYMMETRIC near-dup detection — pairs whose
    * shingle-set containment |A∩B| / min(|A|,|B|) ≥ τ. This is the
    * sub-document catch Jaccard structurally misses: a short doc
    * embedded verbatim in a much longer one has containment 1.0 but
    * Jaccard ≈ |small|/|big| → 0 as the length ratio grows (the classic
    * quote/excerpt/boilerplate-wrapper case in training corpora; the
    * contained side is the doc with the smaller n). Same inverted
    * shingle index, df cap, and scale posture as [[ngramJaccard]] —
    * candidates only ever come from shared RARE shingles, never
    * all-pairs. OpsSpec plants a verbatim-substring doc and pins that
    * this reporter flags it while the Jaccard form does not. */
  def containmentPairs(s: SparkSession, dir: String): DataFrame =
    // documentsRaw: hs-keyed pair core — see ngramJaccardPairs
    containmentPairsFromToks(s, Prims.tokenized(Tables.documentsRaw(s, dir)))
      .materialized // survivors only; don't re-run the index join under the sort's sampling pass
      .orderBy("doc_a", "doc_b")

  def containmentPairsSql: String =
    s"""WITH $shinglesSql,
       |hsh AS (SELECT DISTINCT doc_id, ${hash60Sql("s")} AS hs FROM sh),
       |rare AS (SELECT hs FROM hsh GROUP BY hs HAVING count(*) <= $MaxShingleDf),
       |shr AS (SELECT hsh.doc_id, hsh.hs FROM hsh JOIN rare USING (hs)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shr GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM shr a JOIN shr b ON a.hs = b.hs AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, inter, na.n AS n_a, nb.n AS n_b,
       |  CAST(inter AS DOUBLE) / least(na.n, nb.n) AS containment
       |FROM inter JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
       |WHERE CAST(inter AS DOUBLE) / least(na.n, nb.n) >= $ContainTau
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- near-dup clusters (connected components) -----------------------

  /** Edge-count threshold below which the materialized pair graph is
    * resolved by a single executor task (union-find) instead of the
    * distributed propagation loop. 4M edges ≈ 64 MB of (long, long) —
    * comfortably one task. The pair graph is orders of magnitude smaller
    * than the corpus (only near-dup survivors), so even multi-TB corpora
    * often land under this; the distributed loop is the path beyond it. */
  private[graft] val SmallGraphMaxEdges = 4L * 1024 * 1024

  /** Resolve near-dup candidate pairs into CLUSTERS with a canonical
    * (minimum) doc id — the step that turns pair detection into actual
    * deduplication. Two size-gated strategies over the ONE materialized
    * pair graph:
    *   - small graph (≤ [[SmallGraphMaxEdges]], known exactly from the
    *     checkpoint): union-find inside a single executor task — one job,
    *     no per-round shuffles;
    *   - large graph: undirected connected components via the two-phase
    *     alternating-star rewrite ([[alternatingStar]]) — O(log n)
    *     rounds on ANY topology, including the chain-shaped components
    *     where plain min-label propagation needs diameter rounds.
    * Both paths produce identical labels (OpsSpec asserts it). */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    dedupClustersImpl(s, dir, SmallGraphMaxEdges)

  /** (doc_id, label) for every doc participating in a near-dup pair —
    * the cluster-resolution core shared by the cluster report and the
    * survivor keep-list. Deliberately NOT memoized across calls (unlike
    * `Similarity.codebookMemo`, which holds an 8 KB driver-side Seq): a
    * memoized DATAFRAME pins executor checkpoint blocks that a harness's
    * cleanup between queries legitimately unpersists, leaving later
    * reads dangling on dead blocks — callers wanting to reuse the
    * resolution hold onto the returned frame within one query's
    * lifetime instead. */
  private def clusterLabels(s: SparkSession, dir: String,
                            smallGraphMaxEdges: Long): DataFrame =
    // documentsRaw: the resolution's front half is the hs-keyed pair
    // core — see ngramJaccardPairs
    clusterLabelsFromToks(s, Prims.tokenized(Tables.documentsRaw(s, dir)),
      smallGraphMaxEdges)

  /** [[clusterLabels]] over a pre-tokenized `(doc_id, ws)` frame
    * (shared-scan form for composed pipelines). */
  private def clusterLabelsFromToks(s: SparkSession, toks: DataFrame,
                                    smallGraphMaxEdges: Long): DataFrame =
    // the pair graph is orders of magnitude smaller than the corpus:
    // materialize it ONCE (localCheckpoint truncates the expensive
    // pair-generation lineage) at the join's natural partitioning
    labelsFromPairs(s,
      ngramJaccardPairsFromToks(s, toks).select("doc_a", "doc_b")
        .materialized,
      smallGraphMaxEdges)

  /** Size-gated cluster resolution over an already-MATERIALIZED pair
    * frame (the caller checkpoints it — the gate needs an exact count,
    * and counting an unmaterialized pair join would run it twice). The
    * distributed path's parallelism is sized from the MEASURED edge
    * count ([[pairGraphPartitions]]) — each round runs a number of
    * tasks proportional to the graph, neither a corpus-width shuffle
    * nor a hardcoded handful. repartition, NOT coalesce — coalesce
    * would throttle the upstream pair join itself. */
  private[ops] def labelsFromPairs(s: SparkSession, pairs: DataFrame,
                                   smallGraphMaxEdges: Long): DataFrame = {
    val edgeCount = pairs.count()
    if (edgeCount <= smallGraphMaxEdges) unionFindLabels(s, pairs)
    else alternatingStar(pairs.repartition(pairGraphPartitions(edgeCount)))._1
  }

  private[graft] def dedupClustersImpl(
      s: SparkSession, dir: String, smallGraphMaxEdges: Long): DataFrame =
    clustersFromLabels(clusterLabels(s, dir, smallGraphMaxEdges))

  /** The cluster-report shape over a `(doc_id, label)` frame — ONE
    * definition shared by the self-contained query and the artifact
    * reader, so they can never drift. */
  private def clustersFromLabels(labels: DataFrame): DataFrame =
    labels.groupBy("label").agg(
        count(lit(1)).as("cluster_size"),
        joinedSortedLongs(collect_list(col("doc_id"))).as("members"))
      .select(col("label").as("cluster_id"), col("cluster_size"), col("members"))
      .orderBy("cluster_id")

  /** The cluster report over an arbitrary (doc_a, doc_b) pair frame —
    * the connected-components core (size-gated alternating-star) +
    * report shape shared with [[dedupClusters]], for pair families
    * beyond the text shingle graph ([[graft.ops.Multimodal
    * .phashClusters]] runs it over image near-dup pairs). */
  private[ops] def clustersOverPairs(s: SparkSession, pairs: DataFrame): DataFrame =
    clustersFromLabels(labelsFromPairs(s,
      pairs.select("doc_a", "doc_b").materialized, SmallGraphMaxEdges))

  /** Layout seam for composing modules (PipelineOps.splitLeakage):
    * (doc_id, label) near-dup component labels at the production gate. */
  private[graft] def clusterLabelsFor(s: SparkSession, dir: String): DataFrame =
    clusterLabels(s, dir, SmallGraphMaxEdges)

  /** cluster_size_histogram: the duplicate-family size distribution —
    * how many near-dup clusters of each size the corpus carries. The
    * first thing an engineer reads after a dedup run: a fat tail of
    * giant clusters means boilerplate/mirror mass (and predicts the
    * collapse stage's work); all-2s means organic near-misses. Reuses
    * the cluster-resolution core; the rollup is two vocabulary-small
    * aggregations past it. */
  def clusterSizeHistogram(s: SparkSession, dir: String): DataFrame =
    clusterLabels(s, dir, SmallGraphMaxEdges)
      .groupBy("label").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy("cluster_size")

  def clusterSizeHistogramSql: String =
    s"""SELECT cluster_size, count(*) AS n_clusters,
       |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
       |FROM (${dedupClustersSql})
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** source_overlap: the cross-source duplication matrix — for every
    * ordered source pair (a ≤ b), how many near-dup candidate pairs
    * straddle them. This is how an ingest pipeline decides WHERE its
    * duplication comes from (two crawls mirroring each other vs one
    * source self-duplicating) and which source to dedup against which.
    * Diagonal rows are within-source duplication. Reuses the banded-LSH
    * candidate core; the source attach is two broadcast-sized joins
    * against the (doc_id, source) projection — at 100 TB that
    * projection is data-sized, so they plan as int64-keyed shuffles,
    * still pair-mass-proportional. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    minhashCandidatesWithMatches(s, dir)
      .join(src.toDF("doc_a", "src_a"), Seq("doc_a"))
      .join(src.toDF("doc_b", "src_b"), Seq("doc_b"))
      .select(least(col("src_a"), col("src_b")).as("source_lo"),
        greatest(col("src_a"), col("src_b")).as("source_hi"))
      .groupBy("source_lo", "source_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_lo", "source_hi")
  }

  def sourceOverlapSql: String =
    s"""WITH cand AS (
       |  SELECT doc_a, doc_b FROM (${dedupNearMinhashSql})
       |)
       |SELECT least(sa.source, sb.source) AS source_lo,
       |  greatest(sa.source, sb.source) AS source_hi,
       |  count(*) AS n_pairs
       |FROM cand
       |JOIN documents sa ON sa.doc_id = cand.doc_a
       |JOIN documents sb ON sb.doc_id = cand.doc_b
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Small-graph path: classic union-find with path compression in ONE
    * executor task (not the driver). Output: (doc_id, label=min of its
    * component). */
  private[graft] def unionFindLabels(s: SparkSession, pairs: DataFrame): DataFrame = {
    import s.implicits._
    pairs.as[(Long, Long)].repartition(1).mapPartitions { it =>
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      it.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        else { parent.getOrElseUpdate(ra, ra); () }
      }
      val nodes = parent.keySet ++ parent.values
      val minOfRoot = scala.collection.mutable.HashMap.empty[Long, Long]
      nodes.foreach { n =>
        val r = find(n)
        minOfRoot(r) = math.min(minOfRoot.getOrElse(r, Long.MaxValue), n)
      }
      nodes.iterator.map(n => (n, minOfRoot(find(n))))
    }.toDF("doc_id", "label")
  }

  /** Round-count guard for [[alternatingStar]]. Alternating-star
    * converges in O(log n) rounds on any topology (Kiveris et al.), so
    * 64 rounds covers graphs far beyond what any storage system holds
    * (≈2⁶⁰ nodes) — unlike the former min-label propagation's 20-round
    * cap, which a chain-shaped component of depth 21 could legitimately
    * blow, this guard is unreachable for real data and exists solely so
    * a logic regression fails loudly instead of looping forever. The
    * chain probe (docs/SCALEPROBE_r10.md) pinned the log bound empirically:
    * round count grows by ~1 per chain-length DOUBLING. */
  private[graft] val StarMaxRounds = 64

  /** Large-graph path: two-phase alternating-star connected components
    * (large-star / small-star — Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC'14; public paper, design
    * re-derived, no code). Min-label propagation (the pre-round-10
    * algorithm here) needs one round per unit of component DIAMETER —
    * a chain-shaped component at web-crawl scale blows any fixed round
    * cap and re-joins the full edge set every round. The alternating
    * rewrite converges in O(log n) rounds on ANY topology:
    *   - large-star: every node attaches its LARGER neighbors to the
    *     minimum of its neighborhood (incl. itself);
    *   - small-star: every node attaches its smaller-or-equal
    *     neighbors (and itself) to that minimum.
    * Both phases preserve connectivity and monotonically flatten the
    * graph toward the unique fixed point: one star per component,
    * rooted at the component minimum. Each phase is a groupBy-min plus
    * a join back on the grouping key plus a distinct — more shuffles
    * per round than min-label's two, but the round COUNT is the scale
    * variable and it drops from O(diameter) to O(log n).
    *
    * Convergence detection: an exact (count, Σu, Σv, Σxxhash64(u,v))
    * signature rides the same action that materializes each round's
    * cache; signature equality then triggers ONE deterministic
    * `except`-emptiness confirm (counts already match, so one-sided
    * emptiness ⇒ set equality) — a hash collision can never end the
    * loop early, it only costs one extra job at the final round.
    *
    * Returns (labels, rounds): labels = (doc_id, label=component min)
    * for every node of the pair graph; rounds feeds the chain probe. */
  private[graft] def alternatingStar(pairs: DataFrame): (DataFrame, Int) = {
    // canonical big-endpoint-first orientation, self-loops dropped —
    // both phases below preserve this orientation, so it's established
    // exactly once. Eager localCheckpoint, NOT persist: each round's
    // phases reference their input ~6× (union + both join sides), so
    // without per-round lineage truncation the logical plan grows
    // exponentially in the round count and analysis itself dies on a
    // 15-round graph; checkpoint blocks are round-sized (edge count ×
    // O(log n) rounds live at once, freed by the ContextCleaner).
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .materialized
    // Each phase is ONE window pass — first_value over (partition by u
    // order by v) hands every row its group min in a single
    // exchange+sort, replacing the former groupBy-min + join-back pair
    // (and large-star's intermediate distinct: the multiset flows
    // through, collapsed once by the round-final distinct). Per-round
    // exchanges drop from ~6 to 3; hub groups (the 1.5M-leaf star probe
    // shape) stream through WindowExec's spill-aware group buffer.
    val byU = org.apache.spark.sql.expressions.Window.partitionBy("u").orderBy("v")
    // large-star: m(u) = min(Γ(u) ∪ {u}) over the symmetrized
    // neighborhood; every LARGER neighbor v re-attaches to m(u).
    // Output rows (v, m) keep v > m.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      sym.select(col("u"), col("v"),
          least(col("u"), first("v").over(byU)).as("m"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    // small-star: edges arrive big-first, so Γ(u) here is exactly the
    // SMALLER neighbors; attach them — and, from the group's first row,
    // u itself — to m(u) = min Γ(u). Output rows (x, m) keep x > m.
    def smallStar(e: DataFrame): DataFrame =
      e.select(col("u"), col("v"),
          first("v").over(byU).as("m"),
          row_number().over(byU).as("rn"))
        .select(explode(array(
          struct(col("v").as("u"), col("m").as("v")),
          struct(when(col("rn") === 1, col("u")).as("u"), col("m").as("v")))).as("x"))
        .select(col("x.u").as("u"), col("x.v").as("v"))
        .filter(col("u").isNotNull && col("u") =!= col("v"))
        .distinct()
    var prevSig: String = null
    var converged = false
    var rounds = 0
    while (!converged && rounds < StarMaxRounds) {
      // eager checkpoint materializes the round AND truncates lineage
      val next = smallStar(largeStar(edges)).materialized
      val row = next.agg( // cheap second action over the cached blocks
        count(lit(1)).as("c"),
        sum(col("u").cast("decimal(38,0)")).as("su"),
        sum(col("v").cast("decimal(38,0)")).as("sv"),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")).as("sh")).head()
      val sig = (0 to 3).map(i => String.valueOf(row.get(i))).mkString("|")
      converged = sig == prevSig &&
        next.except(edges).isEmpty // deterministic confirm, final round only
      prevSig = sig
      edges = next
      rounds += 1
    }
    require(converged,
      s"dedupClusters: alternating-star did not converge in $rounds rounds " +
        "- the O(log n) bound makes this unreachable for real graphs; " +
        "a phase rewrite has broken monotonicity")
    // converged state is a star per component: every edge is
    // (member, root) with root = component min, and roots never appear
    // on the u side — so members label from their one edge and roots
    // label as themselves.
    val labels = edges.select(col("u").as("doc_id"), col("v").as("label"))
      .unionByName(edges.select(col("v").as("doc_id"), col("v").as("label")))
      .distinct()
      .materialized
    (labels, rounds)
  }

  /** dedup_survivors: the ACTION near-dup detection exists for — the
    * keep-list after collapsing every near-dup cluster to its canonical
    * (minimum) member. Survivors = all docs that are either untouched
    * by any near-dup pair, or are their cluster's minimum. Emitted with
    * a flag distinguishing the two, so downstream can audit how much of
    * the corpus the collapse removed.
    *
    * Scale shape: the label table covers only pair-participating docs
    * (orders of magnitude smaller than the corpus — near-dup survivors
    * only), so the corpus side takes one LEFT join against it (AQE
    * broadcasts it when small) and a narrow filter; everything upstream
    * is the already-audited cluster resolution. */
  def dedupSurvivors(s: SparkSession, dir: String): DataFrame =
    survivorsFromLabels(s, dir, clusterLabels(s, dir, SmallGraphMaxEdges))

  /** The keep-list shape over a `(doc_id, label)` frame — shared by the
    * self-contained query and the artifact reader. */
  private def survivorsFromLabels(s: SparkSession, dir: String,
                                  labels: DataFrame): DataFrame =
    Tables.documents(s, dir).select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .filter(col("label").isNull || col("label") === col("doc_id"))
      .select(col("doc_id"),
        col("label").isNotNull.as("kept_as_canonical"))
      .orderBy("doc_id")

  // ---- materialized pair-graph artifact -------------------------------

  /** Write-once pair-graph + cluster-label ARTIFACT — the production
    * answer to the fleet's one large avoidable recompute. Five operators
    * (`dedup_clusters`, `dedup_survivors`, `ngram_jaccard`,
    * `curate_manifest`'s collapse stage, `corpus_health`'s near-dup
    * column) each re-derive the same pair graph per run, because the
    * harness contract forbids cross-query DataFrame memoization (see
    * [[clusterLabels]]'s scaladoc: a memoized frame's checkpoint blocks
    * dangle when a harness legitimately unpersists between queries). A
    * FILESYSTEM artifact has no such lifetime problem. One job writes
    *   `<outPath>/pairs.parquet`  — (doc_a, doc_b, inter, union_n, jaccard)
    *   `<outPath>/labels.parquet` — (doc_id, label = component min)
    * computing the shingle index, pair join and cluster resolution
    * exactly ONCE; downstream readers join the parquet instead of
    * re-paying all three. At 100 TB the pair graph covers only near-dup
    * participants (orders of magnitude smaller than the corpus), so the
    * artifact is cheap to store and every reader is a metadata-sized
    * scan or corpus-scan + one join. The self-contained query forms
    * remain the oracle surface; PairGraphArtifactSpec proves each
    * reader bit-identical to its self-contained twin, and
    * docs/SCALEPROBE_r10.md records the saved recompute. */
  def pairGraph(s: SparkSession, dir: String, outPath: String): Unit = {
    val pairs = ngramJaccardPairs(s, dir).materialized
    pairs.write.mode("overwrite").parquet(s"$outPath/pairs.parquet")
    labelsFromPairs(s, pairs.select("doc_a", "doc_b"), SmallGraphMaxEdges)
      .write.mode("overwrite").parquet(s"$outPath/labels.parquet")
  }

  /** [[dedupClusters]] off a written [[pairGraph]] artifact: no shingle
    * index, no pair join, no cluster resolution — one groupBy over the
    * label parquet. */
  def clustersFromArtifact(s: SparkSession, artifactPath: String): DataFrame =
    clustersFromLabels(s.read.parquet(s"$artifactPath/labels.parquet"))

  /** [[dedupSurvivors]] off a written artifact: corpus id scan + ONE
    * left join against the label parquet (AQE broadcasts it when small). */
  def survivorsFromArtifact(s: SparkSession, dir: String,
                            artifactPath: String): DataFrame =
    survivorsFromLabels(s, dir,
      s.read.parquet(s"$artifactPath/labels.parquet"))

  /** [[ngramJaccard]] off a written artifact: scan + deterministic sort. */
  def jaccardFromArtifact(s: SparkSession, artifactPath: String): DataFrame =
    s.read.parquet(s"$artifactPath/pairs.parquet").orderBy("doc_a", "doc_b")

  /** The docs the near-dup collapse DROPS: non-canonical members of every
    * cluster (label ≠ doc_id) — the complement of [[dedupSurvivors]]'s
    * keep-list, sized like the label table itself (pair participants
    * only, orders of magnitude smaller than the corpus), so a corpus
    * frame collapses with ONE anti-join against it (AQE broadcasts it
    * when small). Takes the caller's pre-tokenized (checkpointed)
    * `(doc_id, ws)` frame so curate_manifest/corpus_health's cluster
    * resolution costs no second corpus tokenize. */
  private[ops] def nearDupLosersFromToks(s: SparkSession, toks: DataFrame): DataFrame =
    clusterLabelsFromToks(s, toks, SmallGraphMaxEdges)
      .filter(col("label") =!= col("doc_id"))
      .select("doc_id")

  /** DuckDB CTE chain from the shingle table (`sh`, see [[shinglesSql]])
    * to per-doc cluster labels: inverted index → df cap → Jaccard pairs →
    * transitive closure (WITH RECURSIVE — the caller's WITH must carry
    * the RECURSIVE keyword) → min-reachable label. ONE definition shared
    * by the survivors/clusters oracles and the curation-manifest oracle,
    * so the cluster semantics can never desynchronize between them. */
  private[graft] def clusterLabelsSqlCtes: String =
    s"""hsh AS (SELECT DISTINCT doc_id, ${hash60Sql("s")} AS hs FROM sh),
       |rare AS (SELECT hs FROM hsh GROUP BY hs HAVING count(*) <= $MaxShingleDf),
       |shr AS (SELECT hsh.doc_id, hsh.hs FROM hsh JOIN rare USING (hs)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shr GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM shr a JOIN shr b ON a.hs = b.hs AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
       |  WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.5),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |),
       |labels AS (
       |  SELECT src AS doc_id, least(src, min(dst)) AS label
       |  FROM reach GROUP BY src)""".stripMargin

  def dedupSurvivorsSql: String =
    s"""WITH RECURSIVE $shinglesSql,
       |$clusterLabelsSqlCtes
       |SELECT d.doc_id, l.doc_id IS NOT NULL AS kept_as_canonical
       |FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
       |WHERE l.doc_id IS NULL OR l.label = l.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** DuckDB oracle: transitive closure via WITH RECURSIVE, then the
    * minimum reachable id as the cluster label. */
  def dedupClustersSql: String =
    s"""WITH RECURSIVE $shinglesSql,
       |$clusterLabelsSqlCtes
       |SELECT label AS cluster_id, count(*) AS cluster_size,
       |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
       |FROM labels GROUP BY label ORDER BY cluster_id""".stripMargin

  // ---- chunk-granular exact-substring dedup ---------------------------

  /** Chunk width in words for substring-level dedup. */
  private val ChunkWords = 16

  /** Max chunk index folded into the first-occurrence key — bounds docs at
    * [[ChunkWords]]·1e6 words (a 16M-word doc), far past any real document;
    * keeps `doc_id * 1e6 + idx` inside int64 for doc ids below ~9.2e12.
    * ENFORCED, not assumed: a doc at or past the bound would spill its
    * packed keys into the next doc_id's range and silently corrupt two
    * docs' first-occurrence counts, so the key expression raises instead
    * (see [[dedupSubstringImpl]]). */
  private val MaxChunkIdx = 1000000L

  /** dedup_substring: exact SUBSTRING-level dedup at chunk granularity —
    * the standard corpus treatment for boilerplate (headers, footers,
    * license blocks) that repeats across otherwise-distinct documents,
    * where doc-level exact/near dedup keeps both copies and the repeated
    * span still leaks into training. Each doc is cut into consecutive
    * [[ChunkWords]]-word chunks (tail partial chunk included); a chunk is
    * a DUPLICATE iff the same chunk text already occurred at a smaller
    * (doc_id, chunk_idx). Emitted per doc: chunk count, duplicate-chunk
    * count, and the duplicated fraction — the inputs to a
    * keep/trim/drop decision.
    *
    * Scale shape: the chunk stream is exchanged exactly ONCE (the
    * hash-keyed min, map-side combinable). The first-occurrence key
    * `k = doc_id * MaxChunkIdx + idx` ENCODES its owning doc, so the
    * winners decode back to (doc, first-occurrence count) with integer
    * division — no join-back of the corpus-sized chunk stream (the
    * naive form re-exchanges it a second time just to flag losers).
    * Per-doc chunk totals come from a narrow arithmetic projection
    * (`ceil(words/ChunkWords)` — never exploded), and
    * n_dup = n_chunks − n_first closes the count. No all-pairs
    * anywhere; a chunk repeated a million times costs one combinable
    * group. */
  def dedupSubstring(s: SparkSession, dir: String): DataFrame =
    dedupSubstringImpl(s, dir, MaxChunkIdx)

  /** Core with the packed-key bound explicit so the loud-failure path is
    * testable without a 16M-word fixture. The guard lives INSIDE the key
    * expression (not a droppable side column the optimizer would prune):
    * an offset that would leave the doc's key range raises instead of
    * decoding into a neighboring doc's count. */
  private[graft] def dedupSubstringImpl(
      s: SparkSession, dir: String, maxChunkIdx: Long): DataFrame = {
    val ch = Tables.documents(s, dir)
      .select(col("doc_id"), expr(wordsExpr).as("ws"))
      .filter(size(col("ws")) >= 1)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, (size(ws) + ${ChunkWords - 1}) div $ChunkWords),
           |  i -> array_join(slice(ws, (i - 1) * $ChunkWords + 1, $ChunkWords), ' '))"""
          .stripMargin))).toDF("doc_id", "pos", "chunk")
      // offsets live in [1, maxChunkIdx - 1] so `k div maxChunkIdx`
      // always decodes back to the owning doc; past the bound → raise
      .select(md5(col("chunk")).as("h"),
        (col("doc_id") * maxChunkIdx +
          when(col("pos") < maxChunkIdx - 1L, col("pos") + 1L)
            .otherwise(raise_error(format_string(
              s"dedup_substring: doc %s exceeds the $maxChunkIdx-chunk key bound",
              col("doc_id"))).cast("long"))).as("k"))
    // winners per distinct chunk text; k0 decodes to the owning doc
    val nFirst = ch.groupBy("h").agg(min("k").as("k0"))
      .select(expr(s"k0 div $maxChunkIdx").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_first"))
    val totals = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr(s"(size($wordsExpr) + ${ChunkWords - 1}) div $ChunkWords").as("n_chunks"))
      .filter(col("n_chunks") >= 1)
    totals.join(nFirst, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        (col("n_chunks") - coalesce(col("n_first"), lit(0L))).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        (col("n_dup_chunks").cast("double") / col("n_chunks")).as("dup_frac"))
      .orderBy("doc_id")
  }

  def dedupSubstringSql: String =
    s"""WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents),
       |ch AS (SELECT
       |    md5(array_to_string(ws[(i - 1) * $ChunkWords + 1 : i * $ChunkWords], ' ')) AS h,
       |    doc_id * $MaxChunkIdx + i AS k
       |  FROM w, unnest(range(1, (len(ws) + ${ChunkWords - 1}) // $ChunkWords + 1)) AS t(i)
       |  WHERE len(ws) >= 1),
       |nf AS (SELECT k0 // $MaxChunkIdx AS doc_id, count(*) AS n_first
       |  FROM (SELECT h, min(k) AS k0 FROM ch GROUP BY h) GROUP BY 1),
       |tot AS (SELECT doc_id,
       |    (len(ws) + ${ChunkWords - 1}) // $ChunkWords AS n_chunks
       |  FROM w WHERE len(ws) >= 1)
       |SELECT doc_id, n_chunks,
       |  n_chunks - coalesce(n_first, 0) AS n_dup_chunks,
       |  CAST(n_chunks - coalesce(n_first, 0) AS DOUBLE) / n_chunks AS dup_frac
       |FROM tot LEFT JOIN nf USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- blocked edit-distance near-dup confirm -------------------------

  /** Edit-distance acceptance threshold on the compared prefix. */
  private val MaxEditDist = 16
  /** Compared prefix length in characters — bounds the per-pair DP cost. */
  private val EditPrefix = 80
  /** Char-length bucket width for blocking. */
  private val EditLenBucket = 100L
  /** Max docs per (lang, source, length-bucket) block before it degrades
    * from all-pairs to star pairs on the block-min doc — the same
    * hub-star guard as [[MaxBandBucket]], so a degenerate block cannot
    * go O(m²). */
  private val MaxEditBlock = 100

  /** Parallelism for the blocked edit-distance join: every core of the
    * app (never fewer than shuffle.partitions), because the expensive
    * stage is the O(pairs) DP downstream of the block exchange, not the
    * bytes-tiny prefix-table exchange itself. */
  private def editPartitions(s: SparkSession): Int =
    math.max(s.sparkContext.defaultParallelism,
      s.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  /** editdist_pairs: near-duplicate confirmation by EDIT DISTANCE — the
    * character-level complement to the token-level Jaccard/MinHash
    * family (catches small in-word edits that shift every containing
    * shingle). Candidate pairs come from BLOCKING on
    * (lang, source, n_chars div [[EditLenBucket]]) — two docs whose
    * lengths differ by more than a bucket can't be within a small edit
    * distance anyway — and each pair is confirmed with a BANDED
    * Levenshtein over the first [[EditPrefix]] chars: Spark's
    * `levenshtein(l, r, threshold)` costs O(len·threshold), not
    * O(len²), and returns -1 past the threshold.
    *
    * Scale shape: the join key is the block, never all-pairs; blocks
    * over [[MaxEditBlock]] degrade to O(m) star pairs on the block-min
    * doc (see [[MaxBandBucket]] for the policy rationale). In a full
    * pipeline this pass runs as the cheap confirm stage AFTER an LSH
    * candidate pass; standalone it is a deterministic blocked join both
    * engines reproduce exactly. */
  def editdistPairs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        (col("n_chars") / EditLenBucket).cast("long").as("lb"),
        substring(col("text"), 1, EditPrefix).as("p"))
      // hash-partition by BLOCK KEY before pinning: co-locates both sides
      // of the blocked self-join (no further exchange for the join) and
      // fixes the DP pass's parallelism — without it the checkpoint
      // inherits the scan's partitioning (often ONE partition on a
      // compact prefix table), every broadcast join downstream keeps it,
      // and the per-pair Levenshtein work serializes. The partition
      // count is EXPLICIT: the prefix table is bytes-tiny (AQE would
      // coalesce a keyed repartition back to one partition) but the
      // downstream join FANS OUT quadratically per block, so parallelism
      // must be sized for the pair volume, not the input bytes
      .repartition(editPartitions(s), col("lang"), col("source"), col("lb"))
      .materialized // referenced three times: block stats + both join sides
    // block stats are block-cardinality rows (metadata-sized under the
    // few-huge-groups shape) — BROADCAST at every use, so the corpus side
    // never exchanges for a stats lookup; recomputing them per use is one
    // narrow scan of the checkpointed `d` + a combinable aggregation,
    // cheaper than materializing the tiny frame through an extra job
    val bstats = d.groupBy("lang", "source", "lb")
      .agg(count(lit(1)).as("bn"), min("doc_id").as("bmin"))
    val kept = d.join(
      broadcast(bstats.filter(col("bn") <= MaxEditBlock).select("lang", "source", "lb")),
      Seq("lang", "source", "lb"))
    val fullPairs = kept.as("a").join(kept.as("b"),
        col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
          col("a.lb") === col("b.lb") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.p").as("pa"), col("b.p").as("pb"))
    // hub prefixes: one row per hot block — pull them with a broadcast
    // semi-join on the tiny bmin set and broadcast the result, so the
    // star side is two narrow scans (no corpus shuffle on bmin)
    val hotBlocks = bstats.filter(col("bn") > MaxEditBlock)
    val hubPrefix = d.join(
        broadcast(hotBlocks.select(col("bmin").as("doc_id")).distinct()), "doc_id")
      .select(col("doc_id").as("bmin"), col("p").as("pa"))
    val starPairs = d.join(
        broadcast(hotBlocks.select("lang", "source", "lb", "bmin")),
        Seq("lang", "source", "lb"))
      .filter(col("doc_id") =!= col("bmin"))
      .join(broadcast(hubPrefix), Seq("bmin"))
      .select(col("bmin").as("doc_a"), col("doc_id").as("doc_b"),
        col("pa"), col("p").as("pb"))
    fullPairs.unionByName(starPairs)
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb"), MaxEditDist).as("dist"))
      // single reference to `dist`: the banded levenshtein returns -1 iff
      // the distance exceeds the threshold, so one <> -1 check replaces a
      // two-conjunct range test that CollapseProject would inline as TWO
      // more levenshtein evaluations per candidate pair
      .filter(col("dist") =!= -1)
      // survivors are tiny vs candidates: materialize before the ORDER BY
      // so the range-partitioner's sampling pass re-reads the checkpoint
      // instead of re-running the blocked join + per-pair DP (the same
      // lineage-truncation discipline as ngramJaccard)
      .materialized
      .orderBy("doc_a", "doc_b")
  }

  def editdistPairsSql: String =
    s"""WITH d AS (SELECT doc_id, lang, source, n_chars // $EditLenBucket AS lb,
       |    substr(text, 1, $EditPrefix) AS p
       |  FROM documents),
       |bstats AS (SELECT lang, source, lb, count(*) AS bn, min(doc_id) AS bmin
       |  FROM d GROUP BY lang, source, lb),
       |kept AS (SELECT d.* FROM d JOIN bstats USING (lang, source, lb)
       |  WHERE bn <= $MaxEditBlock),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa, b.p AS pb
       |  FROM kept a JOIN kept b
       |    ON a.lang = b.lang AND a.source = b.source AND a.lb = b.lb
       |    AND a.doc_id < b.doc_id
       |  UNION ALL
       |  SELECT bstats.bmin, d.doc_id, dm.p, d.p
       |  FROM d JOIN bstats USING (lang, source, lb)
       |  JOIN d dm ON dm.doc_id = bstats.bmin
       |  WHERE bn > $MaxEditBlock AND d.doc_id <> bstats.bmin)
       |SELECT doc_a, doc_b, CAST(levenshtein(pa, pb) AS INTEGER) AS dist
       |FROM pairs
       |WHERE levenshtein(pa, pb) <= $MaxEditDist
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- incremental (ingest-vs-corpus) dedup ---------------------------

  /** Split point standing in for "the historical corpus": docs below are
    * the INDEX, docs at/above are the NEW BATCH being ingested. */
  private val IngestSplit = 400L

  /** dedup_incremental: the INGEST-TIME form of deduplication — a new
    * batch checked against the EXISTING corpus, the shape a daily
    * pipeline actually runs (within-batch dedup alone misses everything
    * the corpus already contains; re-clustering the whole corpus per
    * ingest is corpus-scale work for batch-scale input). Each new doc is
    * reported with its duplication disposition against the index:
    * 'exact' (verbatim content-hash hit), 'near' (shares an LSH band
    * bucket with an index doc), or 'fresh'.
    *
    * Scale shape: the batch side is SMALL relative to the corpus — both
    * probes are semi-join-shaped on sketch keys. The exact probe joins
    * content hashes; the near probe joins band signatures, both
    * aggregations map-side combinable; the corpus side is touched once
    * per probe and never self-joined (no within-index pairs are ever
    * generated — that is the whole point vs [[dedupNearMinhash]]). At
    * 100 TB the index's sketch table (hash + 4 band keys per doc) is the
    * thing you PERSIST between ingests; here it is derived inline from
    * the same fixture for oracle parity. */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val hashed = docs.select(col("doc_id"), md5(col("text")).as("ch"))
    val oldHashes = hashed.filter(col("doc_id") < IngestSplit)
      .select("ch").distinct()
    val newDocs = hashed.filter(col("doc_id") >= IngestSplit)
    val exactHits = newDocs.join(oldHashes, Seq("ch"), "left_semi")
      .select(col("doc_id"), lit(1).as("is_exact"))
    // near probe: band signatures from the SAME minhash family as the
    // batch near-dup path, new-batch bands semi-joined to index bands
    val sig = minhashSig(docs).materialized
    // one posexplode pass over the pin — see minhashCandidatesWithMatches
    val bands = sig.select(col("doc_id"),
        posexplode(array((0 until NumBands).map(k =>
          hash60(concat_ws(",",
            (0 until BandRows).map(r => col(s"mh${BandRows * k + r}")): _*))): _*)))
      .toDF("doc_id", "band", "bsig")
    val oldBands = bands.filter(col("doc_id") < IngestSplit)
      .select("band", "bsig").distinct()
    val nearHits = bands.filter(col("doc_id") >= IngestSplit)
      .join(oldBands, Seq("band", "bsig"), "left_semi")
      .select("doc_id").distinct()
      .select(col("doc_id"), lit(1).as("is_near"))
    docs.filter(col("doc_id") >= IngestSplit).select("doc_id")
      .join(exactHits, Seq("doc_id"), "left")
      .join(nearHits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact") === 1, "exact")
          .when(col("is_near") === 1, "near")
          .otherwise("fresh").as("disposition"))
      .orderBy("doc_id")
  }

  def dedupIncrementalSql: String = {
    val mins = (0 until NumHashes).map(j =>
      s"min((${aCoef(j)} * hm + ${bCoef(j)}) % $P31) AS mh$j").mkString(",\n    ")
    val bandSelects = (0 until NumBands).map { k =>
      val cat = (0 until BandRows).map(r => s"CAST(mh${BandRows * k + r} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $k AS band, ${hash60Sql(s"($cat)")} AS bsig FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH $shinglesSql,
       |h AS (SELECT doc_id, ${hash60Sql("s")} % $P31 AS hm FROM sh),
       |sig AS (SELECT doc_id,
       |    $mins
       |  FROM h GROUP BY doc_id),
       |bands AS (
       |  $bandSelects
       |),
       |ch AS (SELECT doc_id, md5(text) AS ch FROM documents),
       |ex AS (SELECT DISTINCT n.doc_id FROM ch n
       |  WHERE n.doc_id >= $IngestSplit
       |    AND n.ch IN (SELECT ch FROM ch WHERE doc_id < $IngestSplit)),
       |nr AS (SELECT DISTINCT n.doc_id FROM bands n
       |  JOIN (SELECT DISTINCT band, bsig FROM bands WHERE doc_id < $IngestSplit) o
       |    USING (band, bsig)
       |  WHERE n.doc_id >= $IngestSplit)
       |SELECT d.doc_id,
       |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact'
       |       WHEN nr.doc_id IS NOT NULL THEN 'near'
       |       ELSE 'fresh' END AS disposition
       |FROM documents d
       |LEFT JOIN ex ON d.doc_id = ex.doc_id
       |LEFT JOIN nr ON d.doc_id = nr.doc_id
       |WHERE d.doc_id >= $IngestSplit
       |ORDER BY d.doc_id""".stripMargin
  }

  /** The COMPOSABLE form of [[dedupIncremental]]'s ingest-vs-index
    * core: disposition of each `batch` document against an arbitrary
    * `index` document frame — 'exact' (content-hash hit), 'near'
    * (shares an LSH band bucket with an index doc), or 'fresh'. The
    * oracle query specializes this to the fixture's doc_id split; THIS
    * form is what a feed-driven index refresh calls
    * ([[graft.storage.ServingFollower]]: each manifest publish's
    * changed day slices become the `batch`, the maintained corpus the
    * `index` — the end-to-end loop ServingFollowerSpec pins). Both
    * frames carry (doc_id, text). Same probe shapes and scale story as
    * [[dedupIncremental]]: semi-joins on sketch keys, the index side
    * never self-joined. This form re-sketches BOTH sides per call — at
    * 100 TB that is re-minhashing the corpus every night; a deployment
    * persists [[sketchOf]] of the corpus instead and calls
    * [[sketchedDispositions]] with it (the feed loop then maintains the
    * sketch artifact by per-day replace — ServingFollowerSpec pins the
    * full cycle). */
  def incrementalDispositions(index: DataFrame, batch: DataFrame): DataFrame =
    sketchedDispositions(sketchOf(index), sketchOf(batch))

  /** The PERSISTED dedup-index sketch of a document frame — everything
    * [[sketchedDispositions]] needs to disposition future batches
    * against these documents, as ONE narrow table: a row per
    * (doc, LSH band) carrying `(doc_id, ch, band, bsig)` where `ch` is
    * the content hash (exact-dup key, repeated across the doc's
    * [[NumBands]] rows so the artifact stays a single table) and
    * `(band, bsig)` the banded-minhash key (near-dup key). This is the
    * exact/near twin of the semantic side's persisted
    * `(vec_id, list_id, qv)` assigned frame
    * ([[graft.ops.Similarity.semanticDispositions]]'s contract): the
    * feed-driven index refresh sketches each changed day slice ONCE,
    * dispositions it against the maintained artifact, then replaces
    * that day's sketch rows — the corpus text is never re-read, never
    * re-minhashed. Cost shape: the minhash aggregation moves one
    * 16-column row per document ([[minhashSig]]); the content-hash
    * attach is a doc-narrow join BEFORE the ×[[NumBands]] band
    * expansion, so the join side is one row per document. 4 rows × ~32
    * bytes per doc ≈ 128 bytes/doc — a 10⁹-doc corpus sketch is
    * ~128 GB, partition-pruned per day like any fact table.
    *
    * Docs too short to shingle (< 3 tokens, so [[minhashSig]] emits no
    * signature) still get ONE sketch row with null `(band, bsig)`:
    * they keep their exact-dup key `ch` and a guaranteed disposition
    * row (null band keys never equi-join, so they can never spuriously
    * match 'near'). Dropping them — as the pre-r20 inner-join form did
    * — silently removed short/empty batch docs from the disposition
    * report AND made exact md5 copies of short index docs undetectable,
    * diverging from [[dedupIncremental]]'s raw-text exact semantics. */
  def sketchOf(docs: DataFrame): DataFrame = {
    val sig = docs.select(col("doc_id"), md5(col("text")).as("ch"))
      .join(minhashSig(docs), Seq("doc_id"), "left")
      .materialized
    // one posexplode pass over the pin — see minhashCandidatesWithMatches
    val banded = sig.where(col("mh0").isNotNull)
      .select(col("doc_id"), col("ch"),
        posexplode(array((0 until NumBands).map(k =>
          hash60(concat_ws(",",
            (0 until BandRows).map(r => col(s"mh${BandRows * k + r}")): _*))): _*)))
      .toDF("doc_id", "ch", "band", "bsig")
    banded.unionByName(
      sig.where(col("mh0").isNull)
        .select(col("doc_id"), col("ch"),
          lit(null).cast("int").as("band"), lit(null).cast("bigint").as("bsig")))
  }

  /** [[incrementalDispositions]] over PRE-SKETCHED frames (both sides
    * in [[sketchOf]]'s (doc_id, ch, band, bsig) shape): 'exact' when
    * the batch doc's content hash appears in the index sketch, 'near'
    * when any of its band keys does, 'fresh' otherwise. The index side
    * is only ever semi-join probed on its two key projections — never
    * self-joined, never re-hashed — so the nightly cost is
    * O(batch sketch + index key probe), independent of corpus text
    * size. The caller sketches a feed batch once, dispositions it
    * here, then folds the same sketch rows into the persisted
    * artifact. */
  def sketchedDispositions(indexSketch: DataFrame, batchSketch: DataFrame): DataFrame = {
    val exactHits = batchSketch.select("doc_id", "ch").dropDuplicates("doc_id")
      .join(indexSketch.select("ch").distinct(), Seq("ch"), "left_semi")
      .select(col("doc_id"), lit(1).as("is_exact"))
    val nearHits = batchSketch.select("doc_id", "band", "bsig")
      .join(indexSketch.select("band", "bsig").distinct(),
        Seq("band", "bsig"), "left_semi")
      .select("doc_id").distinct()
      .select(col("doc_id"), lit(1).as("is_near"))
    batchSketch.select("doc_id").distinct()
      .join(exactHits, Seq("doc_id"), "left")
      .join(nearHits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact") === 1, "exact")
          .when(col("is_near") === 1, "near")
          .otherwise("fresh").as("disposition"))
      .orderBy("doc_id")
  }

  /** PageRank iterations (unrolled identically in the SQL oracle). */
  private val PrIters = 3
  /** Micro-unit scale: each vertex starts with 1e6 integer mass. */
  private val PrUnit = 1000000L
  /** Damping 0.85 in micro-units. */
  private val PrDamp = 850000L
  /** Teleport 0.15·unit. */
  private val PrTeleport = 150000L

  /** pagerank_docs: PageRank centrality over the near-dup pair graph —
    * the principled canonical-selection signal (the survivor family
    * keeps cluster-min doc_ids; centrality keeps the doc MOST similar
    * to the rest of its duplicate neighborhood, the usual preference
    * when near-dup groups are paraphrase clouds rather than exact
    * copies). Also the house demonstration of the ITERATIVE graph
    * pattern beyond connected components.
    *
    * EXACT INTEGER PageRank so the oracle hash-matches: mass lives in
    * micro-units, each vertex emits `p div deg` per out-edge, each edge
    * delivers `(out·850000) div 1e6`, and a vertex's next mass is
    * 150000 + the integer sum — no double ever appears, so association
    * order cannot move a bit. [[PrIters]] synchronous iterations; the
    * SQL oracle unrolls the same three.
    *
    * Scale: edges live at [[pairGraphPartitions]] parallelism; each
    * iteration is one join + one map-side-combinable aggregation
    * (vertex-keyed), the Pregel shuffle shape. Per-vertex intermediate
    * sums are bounded by total graph mass (V·1e6), far inside int64
    * for any graph whose vertex set fits a cluster. */
  def pagerankDocs(s: SparkSession, dir: String): DataFrame =
    pagerankFromPairs(
      ngramJaccardPairs(s, dir).select("doc_a", "doc_b").materialized)
      .select(col("v").as("doc_id"), col("pr_micro"), col("deg"))
      .orderBy("doc_id")

  /** The PageRank core over a MATERIALIZED (doc_a, doc_b) pair frame —
    * returns (v, pr_micro, deg); shared by the standalone report and the
    * centrality-based survivor selection. */
  private def pagerankFromPairs(jp: DataFrame): DataFrame = {
    val edges = jp.unionByName(
        jp.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("u", "v")
      .repartition(col("u"))
      .materialized // iterated over PrIters times; cut the pair-join lineage
    val degByV = edges.groupBy("u").agg(count(lit(1)).as("deg"))
      .toDF("v", "deg") // fresh attribute ids: joined against its own derivations below
    var p = degByV.select(col("v"), lit(PrUnit).as("p"))
    for (_ <- 1 to PrIters) {
      val out = p.join(degByV, Seq("v"))
        .select(col("v").as("u"), expr("p div deg").as("outv"))
      p = edges.join(out, "u")
        .select(col("v"), expr(s"(outv * $PrDamp) div $PrUnit").as("c"))
        .groupBy("v").agg((lit(PrTeleport) + sum(col("c"))).as("p"))
      // no per-iteration pin (r20): PrIters is a CONSTANT 3, so the
      // unrolled plan is bounded (the SQL oracle unrolls the same three
      // CTEs) — unlike alternatingStar's data-dependent round count,
      // which genuinely needs per-round truncation. The edges pin above
      // still cuts the expensive pair-generation lineage; dropping the
      // three vertex-frame barriers saved ~0.2–0.3 s/query at sf0.1
      // (three fewer blocking jobs), identical rows.
    }
    p.join(degByV, Seq("v")).select(col("v"), col("p").as("pr_micro"), col("deg"))
  }

  /** dedup_central_survivors: per near-dup cluster, the CANONICAL doc
    * chosen by centrality — argmax (PageRank, doc_id) within the
    * cluster — beside its size. The alternative survivor rule to
    * [[dedupSurvivors]]' min-id: when a duplicate group is a paraphrase
    * cloud, the most-central member is the best single representative
    * (it shares the most content with the rest), while min-id is just
    * stable. Composes the two audited graph cores over ONE materialized
    * pair frame: the size-gated cluster resolution and the integer
    * PageRank — no second pair generation. */
  def dedupCentralSurvivors(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = ngramJaccardPairs(s, dir).select("doc_a", "doc_b")
      .materialized
    val labels = labelsFromPairs(s, pairs, SmallGraphMaxEdges)
    val pr = pagerankFromPairs(pairs)
    val w = Window.partitionBy("label")
    labels.join(pr, labels("doc_id") === pr("v"))
      .select(col("label"), col("doc_id"), col("pr_micro"))
      .withColumn("cluster_size", count(lit(1)).over(w).cast("long"))
      .withColumn("rn", row_number().over(
        w.orderBy(col("pr_micro").desc, col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("label").as("cluster_id"), col("doc_id").as("canonical_id"),
        col("pr_micro"), col("cluster_size"))
      .orderBy("cluster_id")
  }

  def dedupCentralSurvivorsSql: String = {
    val iters = (1 to PrIters).map { k =>
      s"""o$k AS (SELECT p${k - 1}.v AS u, p${k - 1}.p // dg.deg AS outv
         |  FROM p${k - 1} JOIN dg ON dg.u = p${k - 1}.v),
         |p$k AS (SELECT e.v,
         |    CAST($PrTeleport + sum((o$k.outv * $PrDamp) // $PrUnit) AS BIGINT) AS p
         |  FROM e JOIN o$k ON o$k.u = e.u GROUP BY e.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE $shinglesSql,
       |$clusterLabelsSqlCtes,
       |e AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |dg AS (SELECT u, count(*) AS deg FROM e GROUP BY u),
       |p0 AS (SELECT u AS v, CAST($PrUnit AS BIGINT) AS p FROM dg),
       |$iters,
       |cent AS (SELECT labels.label, p$PrIters.v AS doc_id, p$PrIters.p AS pr_micro
       |  FROM p$PrIters JOIN labels ON labels.doc_id = p$PrIters.v),
       |sz AS (SELECT label, count(*) AS cluster_size FROM cent GROUP BY label),
       |win AS (SELECT label, doc_id, pr_micro,
       |    row_number() OVER (PARTITION BY label
       |      ORDER BY pr_micro DESC, doc_id) AS rn
       |  FROM cent)
       |SELECT win.label AS cluster_id, doc_id AS canonical_id, pr_micro,
       |  CAST(sz.cluster_size AS BIGINT) AS cluster_size
       |FROM win JOIN sz ON sz.label = win.label
       |WHERE rn = 1 ORDER BY cluster_id""".stripMargin
  }

  def pagerankDocsSql: String = {
    val iters = (1 to PrIters).map { k =>
      s"""o$k AS (SELECT p${k - 1}.v AS u, p${k - 1}.p // dg.deg AS outv
         |  FROM p${k - 1} JOIN dg ON dg.u = p${k - 1}.v),
         |p$k AS (SELECT e.v,
         |    CAST($PrTeleport + sum((o$k.outv * $PrDamp) // $PrUnit) AS BIGINT) AS p
         |  FROM e JOIN o$k ON o$k.u = e.u GROUP BY e.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $shinglesSql,
       |hsh AS (SELECT DISTINCT doc_id, ${hash60Sql("s")} AS hs FROM sh),
       |rare AS (SELECT hs FROM hsh GROUP BY hs HAVING count(*) <= $MaxShingleDf),
       |shr AS (SELECT hsh.doc_id, hsh.hs FROM hsh JOIN rare USING (hs)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shr GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM shr a JOIN shr b ON a.hs = b.hs AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jp AS (SELECT doc_a, doc_b
       |  FROM inter JOIN sizes na ON doc_a = na.doc_id
       |  JOIN sizes nb ON doc_b = nb.doc_id
       |  WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.5),
       |e AS (SELECT doc_a AS u, doc_b AS v FROM jp
       |  UNION ALL SELECT doc_b, doc_a FROM jp),
       |dg AS (SELECT u, count(*) AS deg FROM e GROUP BY u),
       |p0 AS (SELECT u AS v, CAST($PrUnit AS BIGINT) AS p FROM dg),
       |$iters
       |SELECT p$PrIters.v AS doc_id, p$PrIters.p AS pr_micro, dg.deg
       |FROM p$PrIters JOIN dg ON dg.u = p$PrIters.v
       |ORDER BY doc_id""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "pagerank_docs" -> pagerankDocsSql,
    "dedup_central_survivors" -> dedupCentralSurvivorsSql,
    "containment_pairs" -> containmentPairsSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "dedup_survivors" -> dedupSurvivorsSql,
    "dedup_substring" -> dedupSubstringSql,
    "editdist_pairs" -> editdistPairsSql,
    "dedup_clusters" -> dedupClustersSql,
    "cluster_size_histogram" -> clusterSizeHistogramSql,
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "dedup_near_minhash" -> dedupNearMinhashSql,
    "minhash_calibration" -> minhashCalibrationSql,
    "source_overlap" -> sourceOverlapSql,
    "simhash_dedup" -> simhashDedupSql,
    "simhash_hamming_pairs" -> simhashHammingPairsSql,
    "ngram_jaccard" -> ngramJaccardSql,
  )
}
