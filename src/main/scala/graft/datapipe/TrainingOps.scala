package graft.datapipe

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.spark.Caches.RegisteredFrame

/** Training-data pipeline operators over the generic `documents` /
  * `embeddings` tables: the operations a large-scale pretraining-corpus
  * pipeline runs downstream of extraction (dedup, near-dup detection,
  * similarity search, text analysis, multimodal plumbing).
  *
  * Design rules:
  *   - Everything is built-in Catalyst expressions (higher-order array
  *     functions, codegen'd) — no Scala UDFs in any hot path; the one
  *     `mapPartitions` (binaryFeatures) exists precisely to demonstrate
  *     the opaque-binary plumbing pattern.
  *   - All hashing is md5-based so every operator is exactly
  *     reproducible by the DuckDB oracle (xxhash64/murmur are
  *     engine-specific; md5 of identical UTF-8 bytes is not). At 100 TB
  *     you would swap md5 for xxhash64 (one constant); the shapes are
  *     identical.
  *   - Scale notes per operator: candidate generation is always
  *     shuffle-on-small-keys (band signatures, buckets), never a raw
  *     cross join; exact verification runs only on candidate pairs.
  */
object TrainingOps extends Serializable {
  // Serializable because the byte-walking closures (warcRecords,
  // warcHttpRecords, httpResponses) call shared object-level helpers
  // (findBytes, parseHttpRegion) — the object is stateless, so shipping
  // the module reference is free; without this the task closure fails
  // with NotSerializableException.

  /** 60-bit hash from the md5 hex prefix — fits a signed long, and both
    * engines can compute it (`conv(substr(md5(x),1,15),16,10)`); the
    * driver-side planes in [[annLshBuckets]] implement the same formula
    * in Scala. The single place to swap md5 -> xxhash64 at scale.
    */
  private def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Whitespace as an EXPLICIT class, not `\s`: Java regex counts
    * vertical tab (\x0B) in `\s`, RE2 (DuckDB) does not — `\s` would be
    * a latent bit-for-bit oracle break on real crawled text.
    */
  private[datapipe] val wsClass = "[ \\t\\n\\r\\f\\x0B]"

  private def words(c: Column): Column = split(trim(c), wsClass + "+")

  /** Fixed `paraWords`-word paragraph windows over a word array — the ONE
    * paragraph convention shared by [[paragraphDedup]] and
    * [[repetitionStats]] (their DuckDB oracles hardcode the same /8
    * windows; change all four together).
    */
  private def paraChunks(w: Column, paraWords: Int): Column =
    transform(
      sequence(lit(0), floor((size(w) - 1) / lit(paraWords)).cast("int")),
      i => concat_ws(" ", slice(w, i * paraWords + 1, lit(paraWords))))

  // ------------------------------------------------------------ dedup

  /** Exact dedup groups: hash-groupBy on md5(text). Map-side partial
    * aggregation; at scale this is one shuffle of (16-byte key, counts),
    * never of the documents themselves.
    */
  def dedupExact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keeper"))

  /** Cross-host mirror detection — d1's exact dedup crossed with the
    * HOST dimension, the signal that tells a mirror farm from in-site
    * republication: a duplicated text served from >= 2 distinct hosts
    * (`cross_host`) is syndication / CDN mirroring / a crawler stuck in
    * a mirror swarm — the curation action is keep-one-per-CONTENT; the
    * same text repeated on ONE host (`intra_host`) is CMS aliasing
    * (print views, session paths) — the action is per-host URL
    * canonicalization (e32's job). Emits one row per duplicated
    * content cluster: keeper (min doc_id), copy and distinct-host
    * counts, canonical_host (min host — deterministic, matching the
    * keeper convention), and the verdict. Singleton texts are not
    * mirrors and are dropped.
    *
    * Scale shape: ONE shuffle on the 16-byte md5 content key (text
    * hashed map-side, never moved); the distinct-host count adds
    * Spark's two-phase distinct-aggregate expansion over (key, host)
    * rows — still pointer-sized. Input contract: (doc_id, host, text).
    */
  def mirrorClusters(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("th"))
      .agg(min("doc_id").as("keeper"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("host")).as("n_hosts"),
        min("host").as("canonical_host"))
      .filter(col("n_copies") >= 2)
      .select(col("keeper"), col("n_copies"), col("n_hosts"),
        col("canonical_host"),
        when(col("n_hosts") >= 2, lit("cross_host"))
          .otherwise(lit("intra_host")).as("verdict"))

  /** Band buckets holding more than this many DISTINCT texts are dropped
    * before the candidate self-join. After exact-dedup, a bucket this
    * large is a degenerate near-dup family (templated boilerplate) whose
    * m²/2 pair expansion would dominate the join; production LSH always
    * caps it (the recall loss is confined to that one family). Part of
    * the d2/d4 oracle contract (mirrored in SparkEntry.trainingOracles).
    */
  val MaxBandBucket = 64

  /** Distinct-text shingle sets — the shared front of the MinHash/Jaccard
    * pipeline. The exact-dedup pre-pass (group by md5(text), representative
    * = min doc_id) is the skew armor: Common-Crawl-scale corpora carry
    * massive EXACT-duplicate clusters (mirrors, boilerplate), and banding
    * raw doc_ids would put a cluster of m identical docs into the same
    * bucket in every band — m²/2 candidate pairs per band. Exact duplicates
    * are d1's job ([[dedupExact]] carries the multiplicity); near-dup
    * detection only ever needs distinct texts.
    *
    * Scale: the pre-pass shuffles (16-byte md5, doc_id) with map-side
    * combine on the text payloads (min_by keeps one text per distinct hash
    * per map partition); output is one row per distinct text.
    */
  /** The raw (multiset) 3-word shingle stream of a word-array column —
    * requires size(w) >= 3 (callers pre-filter; `sequence(0, size-3)`
    * DESCENDS for shorter arrays). Shared by [[shingles3]] (the minhash
    * family's distinct sets) and [[hllDistinct]] (which sketches the raw
    * stream — a sketch needs no dedup, that is its point).
    */
  /** Round-6 exact cosine between columns `q` and `v` via the FUSED
    * codegen expression [[graft.functions.CosineSim]] — bit-identical to
    * the three `aggregate(zip_with(...))` folds it replaced (same index
    * order, same dot/(sqrt*sqrt) operation order — the contract pinned
    * in FunctionsSpec), but one allocation-free array pass inside
    * whole-stage codegen instead of three interpreted lambda chains per
    * candidate pair. Registers the SQL surface on the frame's session
    * (ops cannot assume the caller's session was built with
    * GraftExtensions).
    */
  private def cos6(frame: DataFrame): Column = {
    graft.functions.GraftFunctions.ensureRegistered(frame.sparkSession)
    round(expr("cosine_sim(q, v)"), 6)
  }

  private def shingleStream3(w: Column): Column =
    transform(sequence(lit(0), size(w) - 3),
      i => concat_ws(" ", slice(w, i + 1, lit(3))))

  /** Distinct 3-word shingles of a word-array column — the one shingle
    * convention shared by the minhash family (d2/d4/d10/d15).
    */
  private def shingles3(w: Column): Column =
    array_distinct(shingleStream3(w))

  private def repSets(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("th"))
      .agg(min("doc_id").as("doc_id"), min_by(col("text"), col("doc_id")).as("text"))
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), shingles3(col("w")).as("s"))

  /** 12-minhash / 4-band x 3-row LSH band table over a (id, s shingle
    * set) frame: (id, band, bv 16-byte md5). The one signature
    * convention shared by the self-join pipeline ([[bandedPairsCached]])
    * and the two-table containment join ([[fuzzyDecontaminate]]).
    */
  private def bandTable(sets: DataFrame, idCol: String): DataFrame = {
    val sigs = 12
    val bandRows = 3
    val bands = sigs / bandRows
    val sigCols = (0 until sigs).map { s =>
      array_min(transform(col("s"), x => md5(concat(lit(s + ":"), x)))).as(s"g$s")
    }
    val sig = sets.select(col(idCol) +: sigCols: _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|", (0 until bandRows).map(r => col(s"g${b * bandRows + r}")): _*)).as("bv"))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bv").as("bv"))
  }

  /** Banded-LSH candidate pairs over distinct-text shingle sets
    * (doc_id, s). 12 minhashes, 4 bands x 3 rows; min over the DISTINCT
    * shingle set equals min over the raw multiset, so signatures are
    * unchanged by the dedup pre-pass. Buckets are size-capped (see
    * [[MaxBandBucket]]) and singleton buckets pruned before the self-join,
    * so the join shuffles only surviving (band, 16-byte bv) keys and no
    * single key can explode.
    */
  private def bandedPairs(sets: DataFrame, maxBandBucket: Int): DataFrame =
    bandedPairsCached(sets, maxBandBucket)._1

  /** As [[bandedPairs]], also returning the internally-persisted frames so
    * an iterative caller ([[dupClusters]]) can release them once it has
    * checkpointed the pair list — otherwise the band cache stays pinned in
    * executor storage memory for the whole downstream job.
    */
  private def bandedPairsCached(sets: DataFrame, maxBandBucket: Int): (DataFrame, Seq[DataFrame]) = {
    // persist the tiny band table (4 rows/doc of (doc_id, band, 16-byte
    // bv)): the bucket-size count and BOTH sides of the self-join read it,
    // and without the cache each consumer would re-run the whole
    // shingle+minhash pipeline upstream (measured 1.7x on the r2 bench)
    val banded = bandTable(sets, "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val surviving = banded.groupBy("band", "bv")
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") >= 2 && col("bn") <= maxBandBucket)
      .select("band", "bv")
    val pruned = banded.join(surviving, Seq("band", "bv"))
    val out = pruned.as("x").join(pruned.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    (out, Seq(banded))
  }

  /** The LSH S-curve operating table for the repo's banding config:
    * P(candidate | J) = 1 − (1 − J^r)^b at J = 0.1 … 0.9, in EXACT
    * integer arithmetic (J = j/10 makes every term rational with
    * denominator 10^(r·b), which fits a long for r·b ≤ 18 — (4, 3)
    * gives 10^12). This is the design document of the d2/d4 stack AS A
    * QUERY: together with d22 (which measures the estimator on the real
    * corpus) it replaces "we assume the banding catches near-dups" with
    * the actual recall curve — at (4, 3), J=0.5 is caught with p≈0.41,
    * J=0.8 with p≈0.95, and the d4 verify threshold 0.4 sits exactly
    * where the curve says candidates get plentiful but unreliable.
    */
  def lshCurve(spark: SparkSession, bands: Int = 4, rows: Int = 3): DataFrame = {
    require(bands >= 1 && rows >= 1 && bands * rows <= 18,
      "bands * rows must be <= 18 for exact long arithmetic")
    val denomPow = bands * rows // scale = 10^(bands*rows)
    val scale = math.pow(10, denomPow).toLong
    val jr = (1 to rows).map(_ => col("id")).reduce(_ * _) // j^rows
    val inner = lit(math.pow(10, rows).toLong) - jr // 10^r - j^r
    val outer = (1 to bands).map(_ => inner).reduce(_ * _) // (10^r - j^r)^b
    spark.range(1, 10)
      .select(col("id"), (lit(scale) - outer).as("num"))
      .select((col("id") * 100000L).as("jaccard_ppm"),
        expr(s"num div ${scale / 1000000L}").as("p_candidate_ppm"))
  }

  /** Full 12-minhash signature per doc as ONE array column — the
    * calibration view of the signatures [[bandTable]] immediately hashes
    * into bands.
    */
  private def sigTable(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), array((0 until 12).map { s =>
      array_min(transform(col("s"), x => md5(concat(lit(s + ":"), x))))
    }: _*).as("sig"))

  /** MinHash estimator CALIBRATION — the d21-style eval for the d2/d4
    * dedup stack: for every LSH candidate pair, the signature-agreement
    * estimate (matching minhash components / 12 — an unbiased estimator
    * of Jaccard, since each component matches with probability exactly
    * J) against the EXACT shingle-set Jaccard, plus the absolute error,
    * all in integer ppm. With 12 components the estimator's std dev is
    * ~sqrt(J(1-J)/12) ≈ 0.14 at J=0.5 — this op is how you decide
    * whether that is tight enough for your dedup threshold or whether
    * to pay for more signatures, MEASURED on your corpus instead of
    * assumed. Reads the same persisted shingle sets as the candidate
    * pass (one corpus pass); the joins key 16-byte signature arrays by
    * doc_id — candidates only, never the corpus.
    */
  def minhashCalibration(docs: DataFrame,
      maxBandBucket: Int = MaxBandBucket): DataFrame = {
    val sets = repSets(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val (pairs, _) = bandedPairsCached(sets, maxBandBucket)
    val sg = sigTable(sets)
    pairs
      .join(sg.select(col("doc_id").as("a"), col("sig").as("sa")), "a")
      .join(sg.select(col("doc_id").as("b"), col("sig").as("sb")), "b")
      .join(sets.select(col("doc_id").as("a"), col("s").as("ssa")), "a")
      .join(sets.select(col("doc_id").as("b"), col("s").as("ssb")), "b")
      .select(col("a"), col("b"),
        expr("(1000000 * cast(size(filter(zip_with(sa, sb, (x, y) -> x = y), p -> p)) as bigint)) div 12")
          .as("est_ppm"),
        expr("(1000000 * cast(size(array_intersect(ssa, ssb)) as bigint)) div size(array_union(ssa, ssb))")
          .as("jaccard_ppm"))
      .withColumn("abs_err_ppm", abs(col("est_ppm") - col("jaccard_ppm")))
  }

  /** LSH parameter planner — the DESIGN-TIME table behind the d2/d23
    * family: for every (rows-per-band r, bands b = budget/r) split of a
    * fixed signature budget, the candidate-collision probability
    * 1 - (1 - J^r)^b across the Jaccard grid — the S-curves whose knee
    * placement IS the bands/rows decision (d23 plots the ONE deployed
    * config; this enumerates the alternatives so the 4x3 choice is an
    * argmax over a table, not folklore). Probabilities are computed by
    * EXPLICIT left-fold products, not pow(): the two engines' pow
    * implementations are not bit-identical in the last ulp, but an
    * identical fold order over identical doubles is — the same
    * discipline that keeps the d9 distance oracle exact.
    *
    * Scale shape: a constant (divisors x 19)-row design table built
    * driver-side — no data read at all; the op exists for its oracle-
    * pinned arithmetic, and composes with d22/d35 (measured estimator
    * error) to close the planning loop.
    */
  def lshPlanner(spark: SparkSession, sigBudget: Int = 24): DataFrame = {
    require(sigBudget >= 1, "sigBudget must be >= 1")
    import spark.implicits._
    val grid = for {
      r <- (1 to sigBudget).filter(sigBudget % _ == 0)
      j <- 5 to 95 by 5
    } yield (r, sigBudget / r, j)
    grid.toDF("r", "b", "j_pct")
      .withColumn("p_ppm", expr(
        "cast(floor(1000000 * (1 - aggregate(sequence(1, b), cast(1 as double), " +
          "(acc, x) -> acc * (1 - aggregate(sequence(1, r), cast(1 as double), " +
          "(a2, y) -> a2 * (j_pct / 100.0d)))))) as bigint)"))
  }

  /** b-bit MinHash calibration — d22's storage-compression sequel
    * (Li & König 2010): store only the LOW 4 BITS of each minhash
    * component (here the signature's last hex nibble) and the 16-byte
    * md5 component shrinks 32x — the lever that decides whether a
    * 10^12-document signature matrix fits in memory. Equal nibbles no
    * longer mean equal minhashes: unrelated components collide with
    * probability 2^-b, so the raw agreement rate r estimates
    * J + (1-J)/2^b and the estimator must SUBTRACT the accidental
    * floor: est = (r - 2^-b) / (1 - 2^-b), here in exact integer ppm
    * ((raw_ppm - 62500) * 16 div 15, clamped at 0 — a pair can land
    * under the floor by sampling noise and a similarity of -3% is not
    * a thing). Emitted per LSH candidate pair beside the exact
    * shingle Jaccard and the absolute error, so the b-bit loss is
    * MEASURED against d22's full-width estimator, not assumed.
    *
    * Scale shape: identical to d22 — persisted shingle sets feed
    * signatures and the exact verify; joins key doc_id; candidates
    * only. (The negative-branch subtlety: DuckDB floors, Spark
    * truncates integer division, but every disagreeing value is
    * negative and the clamp maps both to 0.)
    */
  def bbitMinhash(docs: DataFrame, maxBandBucket: Int = MaxBandBucket): DataFrame = {
    val sets = repSets(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val (pairs, _) = bandedPairsCached(sets, maxBandBucket)
    val sg = sigTable(sets)
    pairs
      .join(sg.select(col("doc_id").as("a"), col("sig").as("sa")), "a")
      .join(sg.select(col("doc_id").as("b"), col("sig").as("sb")), "b")
      .join(sets.select(col("doc_id").as("a"), col("s").as("ssa")), "a")
      .join(sets.select(col("doc_id").as("b"), col("s").as("ssb")), "b")
      .select(col("a"), col("b"),
        expr("cast(size(filter(zip_with(sa, sb, (x, y) -> " +
          "substring(x, 32, 1) = substring(y, 32, 1)), p -> p)) as bigint)")
          .as("n_coll"),
        expr("(1000000 * cast(size(array_intersect(ssa, ssb)) as bigint)) " +
          "div size(array_union(ssa, ssb))").as("jaccard_ppm"))
      .withColumn("raw_ppm", expr("(1000000 * n_coll) div 12"))
      .withColumn("est_ppm",
        greatest(lit(0L), expr("((raw_ppm - 62500) * 16) div 15")))
      .withColumn("abs_err_ppm", abs(col("est_ppm") - col("jaccard_ppm")))
      .select("a", "b", "n_coll", "raw_ppm", "est_ppm", "jaccard_ppm",
        "abs_err_ppm")
  }

  /** MinHash+LSH near-duplicate candidate pairs over DISTINCT texts
    * (shingle -> minhash -> band -> capped bucket-join). Pairs are between
    * exact-dedup representatives (min doc_id per distinct text); exact
    * duplicates never reach the banding (see [[repSets]]) — compose with
    * [[dedupExact]] to expand a representative back to its cluster.
    */
  def minhashPairs(docs: DataFrame, maxBandBucket: Int = MaxBandBucket): DataFrame =
    bandedPairs(repSets(docs), maxBandBucket)

  /** SimHash document fingerprint: 60-bit signature where bit j is the
    * sign of the sum over words of +-1 by bit j of the word hash.
    * Near-dup docs differ in a few bits (verify with bit_count(xor)).
    * Map-only, zero shuffle.
    *
    * Implemented as a typed per-partition kernel, NOT the equivalent
    * higher-order-expression form: the HOF formulation
    * (`aggregate(sequence(0,59), .., aggregate(hs, ..))`) evaluates 60
    * interpreted lambda passes per word — measured 18.9 s at sf0.1 when
    * d20 forced materialization — where this kernel is one md5 and a
    * 60-step bit loop per word (<1 s, ~20x). Same contract to the bit:
    * tokens are Spark's `split(trim(text), wsClass)` semantics (limit
    * -1), the hash is the md5 15-hex-char prefix (= top 60 bits of the
    * first 8 digest bytes), null texts drop exactly like the old
    * `size(w) >= 1` filter — the d3/d20 DuckDB oracles are unchanged
    * and still pass, which IS the bit-parity proof.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def h60(s: String): Long = {
          md.reset()
          val d = md.digest(s.getBytes("UTF-8"))
          var v = 0L
          var k = 0
          while (k < 8) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
          v >>> 4 // 15 hex chars = drop the low nibble of byte 7
        }
        it.flatMap { case (id, text) =>
          if (text == null) None
          else {
            val ws = text.trim.split(wsClass + "+", -1)
            val sums = new Array[Int](60)
            var wi = 0
            while (wi < ws.length) {
              val h = h60(ws(wi))
              var j = 0
              while (j < 60) {
                sums(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
                j += 1
              }
              wi += 1
            }
            var sim = 0L
            var j = 0
            while (j < 60) { if (sums(j) > 0) sim |= 1L << j; j += 1 }
            Some((id, sim))
          }
        }
      }
      .toDF("doc_id", "simhash")
  }

  /** SimHash near-duplicate PAIR SEARCH — the missing half of [[simhash]]
    * (which only fingerprints): Manku/Jain/Das Sarma's block-permutation
    * scheme (Detecting Near-Duplicates for Web Crawling, WWW 2007 — the
    * algorithm Google ran over its 8B-page crawl index). The 60-bit
    * signature splits into `maxHamming + 1` contiguous blocks; by
    * pigeonhole, two signatures within Hamming distance `maxHamming`
    * agree on at least one WHOLE block, so equi-joining on (block index,
    * block value) has exact recall — no probabilistic miss like MinHash
    * banding — and the exact `bit_count(xor)` verify on candidates makes
    * precision exact too. Complementary to d2: MinHash targets set-level
    * Jaccard (robust to reordering), SimHash Hamming targets weighted
    * token-frequency similarity at ~100x less signature state (8 bytes
    * vs 12 minhash strings), which is what fits in RAM at 10^12 docs.
    *
    * Scale shape, in order of the skew armor:
    *   1. distinct-SIGNATURE pre-pass (group by simhash, representative =
    *      min doc_id): exact-duplicate clusters — the dominant mass in a
    *      web crawl — collapse to ONE row before any join, the same
    *      hardening as [[repSets]] but one level stronger (Hamming-0
    *      near-dups collapse too). Expansion back to members is d1's job.
    *   2. the self-join shuffles only (blk, 15-bit bv, 8-byte simhash)
    *      rows — never text.
    *   3. block buckets are size-capped like [[MaxBandBucket]]: a
    *      template family whose signatures all share a block cannot
    *      produce a quadratic bucket (the d2 lesson).
    * Candidate pairs that agree on several blocks dedup via `distinct`
    * on the (a, b) key, and `hamming` is a pure function of the pair.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      maxBlockBucket: Int = MaxBandBucket): DataFrame = {
    require(maxHamming >= 1 && 60 % (maxHamming + 1) == 0,
      s"maxHamming + 1 must divide 60, got $maxHamming")
    val nBlocks = maxHamming + 1
    val width = 60 / nBlocks
    val sigs = simhash(docs)
      .groupBy(col("simhash")).agg(min(col("doc_id")).as("rep"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val blocks = sigs.select(col("rep"), col("simhash"),
        explode(sequence(lit(0), lit(nBlocks - 1))).as("blk"))
      .withColumn("bv",
        expr(s"shiftright(simhash, blk * $width) % ${1L << width}"))
    val surviving = blocks.groupBy("blk", "bv")
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") >= 2 && col("bn") <= maxBlockBucket)
      .select("blk", "bv")
    val pruned = blocks.join(surviving, Seq("blk", "bv"))
    pruned.as("x").join(pruned.as("y"),
        col("x.blk") === col("y.blk") && col("x.bv") === col("y.bv") &&
          col("x.rep") < col("y.rep"))
      .select(col("x.rep").as("a"), col("y.rep").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
          .cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard verification of the MinHash candidates — the
    * standard two-phase near-dup pipeline (cheap LSH recall, exact
    * precision pass on candidates only). Jaccard over DISTINCT 3-word
    * shingles of the exact-dedup representatives, rounded to 4 decimals.
    *
    * The shingle sets are built ONCE and persisted: the candidate branch
    * (minhash/banding) and both sides of the verification join read the
    * same cached sets instead of re-running dedup + shingling three times
    * (r1 bench: recomputation made d4 cost ~2x d2). At cluster scale the
    * persist becomes a checkpoint into the lakehouse; the shape is the same.
    */
  def jaccardVerify(docs: DataFrame, maxBandBucket: Int = MaxBandBucket): DataFrame =
    jaccardVerifyCached(docs, maxBandBucket)._1

  /** As [[jaccardVerify]], also returning the internally-persisted frames
    * (shingle sets + band table) for callers that checkpoint the result
    * and want the caches released (see [[bandedPairsCached]]).
    */
  private def jaccardVerifyCached(docs: DataFrame, maxBandBucket: Int): (DataFrame, Seq[DataFrame]) = {
    val sets = repSets(docs).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val (pairs, caches) = bandedPairsCached(sets, maxBandBucket)
    val out = pairs
      .join(sets.select(col("doc_id").as("a"), col("s").as("sa")), "a")
      .join(sets.select(col("doc_id").as("b"), col("s").as("sb")), "b")
      .select(col("a"), col("b"),
        round(size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.4)
    (out, sets +: caches)
  }

  /** Containment (asymmetric Jaccard) verification — the doc-in-doc
    * detector that SYMMETRIC Jaccard structurally misses: a short
    * document embedded verbatim in a long one (syndicated article
    * inside a portal page, quoted post inside a thread) has
    * containment |A∩B|/|A| = 1.0 but Jaccard |A∩B|/|A∪B| ≈ |A|/|B|,
    * far below any near-dup threshold — and MinHash-LSH banding
    * inherits Jaccard's blindness, so these pairs never even become
    * d2 candidates. Candidates here come from RARE-SHINGLE BLOCKING
    * instead: invert the (distinct-text) shingle sets, keep shingles
    * with document frequency in [2, maxDf], and pair documents sharing
    * one. The DF cap is the feature-level version of d2's bucket cap —
    * a shingle in many documents is boilerplate carrying no containment
    * signal, and dropping it is what bounds any join key to <= maxDf
    * rows (<= maxDf² candidate pairs per shingle, no quadratic key).
    * Surviving pairs are exactly verified: contain_a = |A∩B|/|A| (how
    * much of A lies in B), contain_b symmetric, plus Jaccard; kept when
    * either containment >= minContain; verdict `duplicate` when Jaccard
    * >= 0.8 (both directions high), else `a_in_b`/`b_in_a` by the
    * larger containment (ties -> a_in_b, pinned).
    *
    * Scale shape: exact-dedup pre-pass (16-byte md5 keys) -> one
    * explode carrying (16-byte shingle hash, doc_id) -> DF-capped
    * self-join -> distinct pointer pairs -> one set-join verify on the
    * persisted shingle sets. Document text never shuffles; the only
    * fan-out is the bounded per-shingle pair expansion.
    */
  def containmentVerify(docs: DataFrame, maxDf: Int = 8,
      minContain: Double = 0.9): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    require(minContain > 0.0 && minContain <= 1.0,
      s"minContain must be in (0,1], got $minContain")
    val sets = repSets(docs).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val ex = sets.select(col("doc_id"), explode(col("s")).as("g"))
      .select(col("doc_id"), md5(col("g")).as("hh"))
    val rareKeys = ex.groupBy("hh").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf)).select("hh")
    val rare = ex.join(rareKeys, "hh")
    val pairs = rare.select(col("hh"), col("doc_id").as("a"))
      .join(rare.select(col("hh"), col("doc_id").as("b")), "hh")
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val inter = size(array_intersect(col("sa"), col("sb"))).cast("double")
    pairs
      .join(sets.select(col("doc_id").as("a"), col("s").as("sa")), "a")
      .join(sets.select(col("doc_id").as("b"), col("s").as("sb")), "b")
      .select(col("a"), col("b"),
        round(inter / size(col("sa")), 4).as("contain_a"),
        round(inter / size(col("sb")), 4).as("contain_b"),
        round(inter / size(array_union(col("sa"), col("sb"))), 4).as("jaccard"))
      .filter(greatest(col("contain_a"), col("contain_b")) >= minContain)
      .withColumn("verdict",
        when(col("jaccard") >= 0.8, lit("duplicate"))
          .when(col("contain_a") >= col("contain_b"), lit("a_in_b"))
          .otherwise(lit("b_in_a")))
  }

  /** Fuzzy benchmark decontamination — the near-duplicate upgrade of the
    * exact n-gram scrub ([[decontaminate]]): a training document is
    * contaminated if its 3-shingle Jaccard against ANY eval document
    * reaches `minJaccard`, found via the same MinHash/banded-LSH recall
    * pass as d2 but as a TWO-TABLE containment join (train bands against
    * broadcast eval bands), then exact-Jaccard verified on candidates
    * only. Catches paraphrased/lightly-edited benchmark leakage that
    * exact n-gram matching misses.
    *
    * Scale shape: the eval side is an eval SUITE (small) — its band
    * table broadcasts; the train side partial-aggregates its exact-dup
    * pre-pass (md5 keys) and streams bands map-side, so nothing
    * document-sized shuffles. No bucket cap: candidate volume is
    * bounded by eval-side matches, and capping would silently drop
    * true contamination (recall matters more than balance here —
    * the opposite trade from d2's self-join). Verdicts computed on
    * distinct-text representatives, expanded to clones by the md5 key.
    */
  def fuzzyDecontaminate(docs: DataFrame, isEval: Column,
      minJaccard: Double = 0.6): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0,1], got $minJaccard")
    val keyed = docs.select(col("doc_id"), col("text"), isEval.as("is_eval"))
      .withColumn("th", md5(col("text")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val evalSets = keyed.filter(col("is_eval"))
      .groupBy("th").agg(min("doc_id").as("e_id"),
        min_by(col("text"), col("doc_id")).as("text"))
      .select(col("e_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("e_id"), shingles3(col("w")).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val trainReps = keyed.filter(!col("is_eval"))
      .groupBy("th").agg(min("doc_id").as("rep"),
        min_by(col("text"), col("doc_id")).as("text"))
    val tSets = trainReps
      .select(col("rep"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("rep"), shingles3(col("w")).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val cand = bandTable(tSets, "rep")
      .join(broadcast(bandTable(evalSets.select(col("e_id"), col("s")), "e_id")),
        Seq("band", "bv"))
      .select("rep", "e_id").distinct()
    val verified = cand
      .join(tSets.select(col("rep"), col("s").as("st")), "rep")
      .join(evalSets.select(col("e_id"), col("s").as("se")), "e_id")
      .select(col("rep"),
        round(size(array_intersect(col("st"), col("se"))).cast("double") /
          size(array_union(col("st"), col("se"))), 4).as("j"))
      .filter(col("j") >= minJaccard)
      .groupBy("rep").agg(count(lit(1)).as("n_eval_hits"), max("j").as("max_jaccard"))
    keyed.filter(!col("is_eval"))
      .join(trainReps.select(col("th"), col("rep")), "th")
      .join(verified, Seq("rep"), "left")
      .select(col("doc_id"),
        coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"),
        (coalesce(col("n_eval_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Duplicate-CLUSTER resolution — the step production dedup pipelines
    * run after pair generation: pairs alone don't say which rows to keep
    * once near-duplicity chains (A~B, B~C but never A~C as a pair).
    * Builds the duplicate graph over exact-dedup representatives (edges =
    * the jaccard-verified near-dup pairs from [[jaccardVerify]]), finds
    * connected components, and expands back through the exact-dup groups:
    * every document gets `(cluster_id, cluster_size, is_keeper)` where
    * `cluster_id` is the minimum doc_id of its component (so the keeper
    * is a real document) and `is_keeper` marks exactly one row per
    * cluster.
    *
    * Algorithm: iterative min-label propagation to a fixpoint —
    * per round, one join of the (id, lbl) label table against the
    * symmetric edge list and a min-aggregate; convergence is detected by
    * the strictly-decreasing label sum (one tiny agg action per round),
    * and the fixpoint is the exact component minimum, independent of
    * iteration order. Rounds needed = graph diameter; near-dup components
    * are dense families with tiny diameters (the [[MaxBandBucket]] cap
    * also bounds banding fan-in), so the cap of `maxIters` is a safety
    * net — on adversarial long-chain graphs switch to large-star/
    * small-star (Kiveris et al.), same per-round join shape.
    *
    * Scale: the label and edge tables carry only (long, long) rows —
    * never the documents; each round shuffles labels once on id; the
    * doc→rep expansion is the same md5-keyed shuffle as [[dedupExact]];
    * AQE absorbs component skew in the final size join.
    */
  def dupClusters(docs: DataFrame, maxBandBucket: Int = MaxBandBucket,
      maxIters: Int = 20, precomputedPairs: Option[DataFrame] = None): DataFrame = {
    val docRep = docs.select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("rep", min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .select("doc_id", "rep")
    // a pipeline that already ran the verify phase (d4) passes its (a, b)
    // pairs here instead of paying the LSH+jaccard pass a second time
    val (pairs, verifyCaches) = precomputedPairs match {
      case Some(p) => (p.select("a", "b"), Seq.empty[DataFrame])
      case None =>
        val (vp, cs) = jaccardVerifyCached(docs, maxBandBucket)
        (vp.select("a", "b"), cs)
    }
    // localCheckpoint (eager) rather than persist: an iterative algorithm
    // must TRUNCATE lineage, not just cache it — with plain persist every
    // round nests the whole upstream LSH plan again and Catalyst replans
    // a few-hundred-node tree per action (measured: ~5 s of pure planning
    // per count at sf0.001, growing with rounds). After the checkpoint the
    // edge/label tables are plan LEAVES. On a multi-executor cluster use
    // setCheckpointDir + checkpoint() for the same truncation with
    // fault-tolerant storage.
    // Checkpoint BEFORE symmetrizing: a union of two copies of the
    // un-checkpointed plan would execute the whole verify tree twice
    // (no CSE across union branches); after the checkpoint the flipped
    // copy is a projection of a leaf. The verify-phase caches are dead
    // once the checkpoint has materialized — release the storage memory
    // before the propagation rounds.
    val p0 = pairs.localCheckpoint(true)
    verifyCaches.foreach(_.unpersist(false))
    val sym = p0.union(p0.select(col("b").as("a"), col("a").as("b")))
    // iterate ONLY over the active subgraph (nodes with >= 1 edge): on a
    // crawl corpus the pair graph is orders of magnitude smaller than the
    // rep set, and every isolated rep trivially keeps its identity label
    // (re-attached by the final left join) — so each propagation round
    // joins tables sized by the near-dup population, not the corpus
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint(true)
    var lblSum = Option(labels.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0))
      .getOrElse(java.math.BigDecimal.ZERO)
    var it = 0
    var converged = lblSum.signum() == 0 && labels.isEmpty
    while (!converged && it < maxIters) {
      val viaEdges = labels.join(sym, labels("id") === sym("a"))
        .select(col("b").as("id"), col("lbl"))
      val next = labels.select("id", "lbl").union(viaEdges)
        .groupBy("id").agg(min("lbl").as("lbl")).localCheckpoint(true)
      val nextSum = next.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0)
      converged = nextSum.compareTo(lblSum) == 0
      labels = next
      lblSum = nextSum
      it += 1
    }
    if (!converged)
      // non-convergence means one true component may carry SPLIT labels
      // (and a cluster whose id points into another cluster has no keeper
      // row) — surface it always, not only under the debug flag
      System.err.println(s"[dupClusters] WARNING: stopped at maxIters=$maxIters " +
        "before label fixpoint; cluster ids may split components — raise maxIters " +
        "or switch to star-contraction rounds for long-chain graphs")
    else if (sys.env.contains("GRAFT_CC_DEBUG"))
      System.err.println(s"[dupClusters] iterations=$it converged=true")
    val clustered = docRep
      .join(labels.select(col("id").as("rep"), col("lbl").as("cl")), Seq("rep"), "left")
      .select(col("doc_id"), coalesce(col("cl"), col("rep")).as("cluster_id"))
    val sizes = clustered.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    clustered.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_keeper"))
  }

  /** Quality-argmax representative selection per near-dup cluster — the
    * curation step a production pipeline runs AFTER [[dupClusters]]:
    * within each duplicate cluster keep the highest-[[qualityScore]]
    * member, not an arbitrary (min-id) one. Mirror farms re-host good
    * pages inside ad-stuffed shells; min-id keeps whichever the crawler
    * saw first, argmax-quality keeps the cleanest copy (the rule
    * RefinedWeb/FineWeb-class pipelines apply between dedup and
    * sampling). Ties (equal rounded quality) break to min doc_id so the
    * output is deterministic.
    *
    * Scale shape: the cluster labels join quality on doc_id (both sides
    * already keyed by it), then ONE map-side-combined aggregate on
    * cluster_id carrying a 20-byte struct — `min(struct(-quality,
    * doc_id))` instead of a `row_number` window, because a boilerplate
    * mega-cluster (10^8 mirrored pages) would pile into a single window
    * partition, while partial aggregation reduces it map-side to one
    * candidate per task before the shuffle. No raw text moves; negating
    * the (rounded, non-negative) quality makes lexicographic struct-min
    * equal quality-DESC/id-ASC without a secondary sort.
    */
  def clusterRepresentatives(docs: DataFrame,
      maxBandBucket: Int = MaxBandBucket): DataFrame = {
    val clusters = dupClusters(docs, maxBandBucket)
    val q = qualityScore(docs).select(col("doc_id"), col("quality"))
    clusters.join(q, Seq("doc_id"), "left")
      .withColumn("quality", coalesce(col("quality"), lit(0.0)))
      .groupBy(col("cluster_id"))
      .agg(
        min(struct((-col("quality")).as("nq"), col("doc_id").as("id"),
          col("quality").as("q"))).as("best"),
        max(col("cluster_size")).as("cluster_size"))
      .select(col("cluster_id"), col("best.id").as("rep_id"),
        col("cluster_size"), col("best.q").as("rep_quality"),
        (col("cluster_size") - 1).as("n_removed"))
  }

  /** Paragraph-level cross-document dedup — the CCNet/RefinedWeb-style
    * pass that removes boilerplate shared BETWEEN documents (cookie
    * banners, footers, mirrored intros) that document-level dedup can't
    * see. "Paragraphs" are fixed windows of `paraWords` words (this
    * corpus carries no newline structure; on real text split on \n\n
    * first — the shape below is identical). An occurrence is KEPT iff it
    * is the corpus-first occurrence of its content, by (doc_id, idx)
    * order — a deterministic, order-independent rule (the min over a
    * group), unlike the seen-before streaming rule it replaces. Output
    * per document: paragraph counts and the md5 of the re-joined kept
    * text (an exact duplicate of an earlier document keeps nothing:
    * n_kept = 0, clean_md5 = md5('')).
    *
    * Scale: two shuffles, both on small keys — (16-byte md5) for the
    * first-occurrence group/join (one row per DISTINCT paragraph on the
    * build side; a boilerplate paragraph occurring billions of times is
    * one hot join key that AQE's skew split absorbs), then doc_id for
    * reassembly. Paragraph text rides the shuffles once; at 100 TB you'd
    * pre-project (ph, doc_id, idx) for the membership pass and re-join
    * paragraphs by (doc_id, idx) from the source scan instead.
    */
  def paragraphDedup(docs: DataFrame, paraWords: Int = 8): DataFrame = {
    require(paraWords > 0, "paraWords must be positive")
    // persisted: the first-occurrence agg (build side) and the join probe
    // side both read it — without the cache each would re-run the
    // split/chunk pipeline from the scan. Released below once the result
    // has materialized.
    val chunks = docs.select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 1)
      .select(col("doc_id"), posexplode(paraChunks(col("w"), paraWords)).as(Seq("idx", "para")))
      .withColumn("ph", md5(col("para")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val firsts = chunks.groupBy("ph")
      .agg(min(struct(col("doc_id"), col("idx"))).as("first"))
    // every chunk's ph is in firsts by construction, so the inner join
    // preserves all rows; ONE groupBy then yields totals, kept counts and
    // the kept-text digest together (collect_list skips the nulls of
    // non-first occurrences; an all-dup doc gets the empty concat -> md5(''))
    val isFirst = col("doc_id") === col("first.doc_id") && col("idx") === col("first.idx")
    val result = chunks.join(firsts, "ph")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_paras"),
        count(when(isFirst, 1)).as("n_kept"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(when(isFirst, struct(col("idx"), col("para"))))),
            x => x.getField("para")))).as("clean_md5"))
    // eager localCheckpoint (the d10 pattern): materializes the small
    // per-doc result so the big exploded-paragraph cache can be released
    // NOW instead of pinning storage memory for the session; on a
    // multi-executor cluster use checkpoint() for fault-tolerant storage
    val out = result.localCheckpoint(true)
    chunks.unpersist(false)
    out
  }

  // ------------------------------------------------- similarity search

  /** Brute-force cosine top-k over the embedding column: every probe
    * (vec_id % 50 == 0) against all candidates. The probe set is
    * broadcast, so candidates never shuffle; ranking is a per-probe
    * window. This is the correctness baseline for [[annLshBuckets]];
    * at scale replace the global window with per-partition top-k +
    * merge (same results, bounded memory).
    */
  def annCosineTopK(emb: DataFrame, k: Int = 5): DataFrame = {
    val e = emb.select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val p = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q"))
    val scored = e.crossJoin(broadcast(p))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cos6(emb).as("score"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("score"))
  }

  /** Mutual-kNN graph over the probe SEED SET — the edge input of
    * density-based dedup clustering (SemDeDup-style cluster refinement,
    * graph-community curation): an undirected edge (a, b) exists iff a
    * lists b in its top-k AND b lists a — the standard mutual filter
    * that strips hub-induced asymmetric edges (a near-centroid vector is
    * in everyone's top-k, but reciprocity demands it return the favor,
    * which a hub cannot do k+1 times).
    *
    * Seeds are CALLER-SUPPLIED (`seeds`: any DF with a `vec_id`
    * column) — at scale the caller passes a DF-bounded list such as the
    * cluster-representative table (d24/d28), never a corpus-proportional
    * sample: the all-pairs term below is |seeds|^2, so a seed rule that
    * grows with the corpus is a quadratic time bomb (10^12/50 squared =
    * 4x10^20 pairs). The library refuses to bake a sampling rule in;
    * the demo wiring's vec_id % 50 sample lives in SparkEntry only.
    * All-pairs run among SEEDS ONLY via a broadcast self-join
    * (|seeds|^2 pairs, never |corpus|^2), and the seed membership join
    * itself broadcasts the seed list (map-only over emb — the corpus
    * never shuffles); scores are the round-6 cosines of the d5
    * convention (rounding makes the Spark fold and any re-ordered sum
    * agree bit-for-bit, so rank and the mutual test are
    * engine-independent). Edge rows emit once with a < b plus both
    * directed ranks.
    */
  def mutualKnnSeeds(emb: DataFrame, seeds: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val e = emb
      .join(broadcast(seeds.select(col("vec_id")).distinct()), Seq("vec_id"))
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val q = e.select(col("vec_id").as("q_id"), col("v").as("q"))
    val ranked = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cos6(emb).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val fwd = ranked.filter(col("q_id") < col("vec_id"))
      .select(col("q_id").as("a"), col("vec_id").as("b"),
        col("score"), col("rank").as("rank_ab"))
    val rev = ranked.filter(col("q_id") > col("vec_id"))
      .select(col("vec_id").as("a"), col("q_id").as("b"), col("rank").as("rank_ba"))
    fwd.join(rev, Seq("a", "b"))
      .select(col("a"), col("b"), col("score"),
        col("rank_ab").cast("int").as("rank_ab"),
        col("rank_ba").cast("int").as("rank_ba"))
  }

  /** The scale path for exact top-k: PROBE CHUNKING x per-partition
    * bounded heaps x tiny final merge.
    *
    * The probe set is processed in `probeChunks` disjoint slices
    * (chunk = (vec_id div 50) mod probeChunks), one broadcast + candidate
    * pass per slice — a block nested-loop join. Broadcast memory is
    * O(|probes| / probeChunks) and heap memory per task is
    * O(|probes|/probeChunks x k), BOTH bounded by the chunk count, never
    * by the table: a probe set that grows with the corpus (as here, 1/50th
    * of the table) stops being a broadcast-limit time bomb — pick
    * probeChunks = ceil(probeBytes / broadcastBudget) at scale. The trade
    * is `probeChunks` scans of the candidate table, the standard
    * brute-force-ANN batching trade (each scan is map-only, no shuffle).
    *
    * Per chunk, each task keeps one k-heap per probe (never O(candidates))
    * and emits numPartitions x chunkProbes x k partial rows; the final
    * rank runs over that tiny union. Output contract is identical to
    * [[annCosineTopK]] — same oracle SQL verifies both. Deterministic
    * tie-break everywhere: (score desc, vec_id asc).
    */
  def annCosineTopKScalable(emb: DataFrame, k: Int = 5, probeChunks: Int = 4)(implicit spark: SparkSession): DataFrame = {
    require(probeChunks > 0, "probeChunks must be positive")
    val e = emb.select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val partials = (0 until probeChunks).map { c =>
      val p = e.filter(col("vec_id") % 50 === 0 &&
          pmod(expr("vec_id div 50"), lit(probeChunks)) === c)
        .select(col("vec_id").as("q_id"), col("v").as("q"))
      val scored = e.crossJoin(broadcast(p))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), cos6(emb).as("score"))
      partialTopK(scored, k)
    }.reduce(_ union _)
    partials
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("score"))
  }

  /** Per-partition bounded k-heaps over (q_id, vec_id, score) rows:
    * each task retains at most k rows per probe seen in its partition.
    */
  private def partialTopK(scored: DataFrame, k: Int)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    // "greater" = worse (lower score, then higher vec_id), so the heap
    // root is always the eviction candidate
    val worseFirst: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
      def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    }
    scored.as[(Long, Long, Double)].mapPartitions { it =>
      val heaps = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.PriorityQueue[(Double, Long)]]
      it.foreach { case (q, v, s) =>
        val h = heaps.getOrElseUpdate(q, scala.collection.mutable.PriorityQueue.empty(worseFirst))
        if (h.size < k) h.enqueue((s, v))
        else if (worseFirst.compare((s, v), h.head) < 0) { h.dequeue(); h.enqueue((s, v)) }
      }
      heaps.iterator.flatMap { case (q, h) => h.iterator.map { case (s, v) => (q, v, s) } }
    }.toDF("q_id", "vec_id", "score")
  }

  /** Random-hyperplane LSH bucketing — the scale path for cosine ANN:
    * 16 deterministic pseudo-random hyperplanes (derived from md5(j:i),
    * precomputed on the DRIVER and inlined as a literal, the broadcast
    * pattern), bucket = 16 sign bits. Same-bucket vectors are cosine
    * candidates; search cost drops from O(n) to O(n / 2^16) per probe.
    */
  def annLshBuckets(emb: DataFrame, dimOpt: Option[Int] = None): DataFrame =
    lshBuckets(emb, 16, dimOpt)

  /** Sign-bit bucketing over `nPlanes` deterministic pseudo-random
    * hyperplanes (derived from md5(j:i), precomputed on the DRIVER and
    * inlined as a literal — the broadcast pattern). `nPlanes` is the
    * recall/precision dial: more planes → smaller buckets → fewer
    * candidates per probe.
    */
  private def lshBuckets(emb: DataFrame, nPlanes: Int, dimOpt: Option[Int] = None): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    val e = emb.select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    // plane length must equal the embedding dimension: zip_with null-pads
    // on mismatch, which would silently zero every bucket. Derive it from
    // the data (one-row lookup) unless the caller pins it.
    val dim = dimOpt.getOrElse {
      val h = e.select(size(col("v"))).head(1)
      if (h.isEmpty) 1 else math.max(1, h(0).getInt(0))
    }
    val planes: Seq[Seq[Double]] = (0 until nPlanes).map { j =>
      (0 until dim).map { i =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$j:$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 15)
        java.lang.Long.parseLong(hex, 16).toDouble / math.pow(2, 59) - 1.0
      }
    }
    val bucket = expr(
      s"""aggregate(sequence(0,${nPlanes - 1}), 0, (s, j) ->
         |  s + IF(dot_d(element_at(planes, j + 1), v) > 0,
         |         shiftleft(1, j), 0))""".stripMargin)
    e.withColumn("planes", typedLit(planes))
      .select(col("vec_id"),
        when(size(col("v")) === dim, bucket)
          .otherwise(raise_error(concat(
            lit(s"lshBuckets: embedding dimension mismatch (planes=$dim, got "),
            size(col("v")), lit(")")))).as("bucket"))
  }

  /** IVF-style ANN top-k — the coarse-quantizer alternative to
    * hyperplane-LSH ([[annLshBuckets]]): vectors are assigned to the
    * nearest of `nCells` deterministic centroids (argmin of squared
    * distance, lexicographic (dist, cell) tie-break), and each probe
    * searches ONLY its own cell — exact cosine within the cell, so search
    * cost drops to O(n / nCells) per probe at the price of recall at cell
    * boundaries (a real IVF adds nProbe neighboring cells; one cell keeps
    * the oracle exact and the shape identical).
    *
    * Scale: centroids are driver-precomputed and inlined (broadcast
    * pattern); the persisted assignment table is (vec_id, int); probes
    * broadcast per cell; candidates never shuffle. A probe alone in its
    * cell returns no rows (documented IVF recall property).
    */
  /** IVF cell assignment shared by [[annIvfTopK]] and [[semDedup]]:
    * (vec_id, v, cell) with cell = argmin over `nCells` deterministic
    * md5-derived centroids (argmin as array_min of [dist2, cellIdx]
    * pairs — the same left-fold double arithmetic as the DuckDB oracle,
    * so the assignment is bit-reproducible). Centroids are
    * driver-precomputed and inlined (broadcast pattern). Returned
    * persisted: both callers branch over it.
    */
  private def ivfCells(emb: DataFrame, nCells: Int, dimOpt: Option[Int]): DataFrame =
    ivfCellsOf(emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v")), nCells, dimOpt)

  /** [[ivfCells]] over an already-prepared (vec_id, v double-array)
    * frame — [[semDedup]] feeds it post-pre-pass representatives.
    */
  /** The deterministic md5-derived IVF centroid matrix shared by
    * [[ivfCellsOf]] and [[ivfMargins]].
    */
  private def ivfCents(nCells: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nCells).map { c =>
      (0 until dim).map { i =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"c:$c:$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 15)
        java.lang.Long.parseLong(hex, 16).toDouble / math.pow(2, 59) - 1.0
      }
    }

  private def embDim(e: DataFrame, dimOpt: Option[Int]): Int =
    dimOpt.getOrElse {
      val h = e.select(size(col("v"))).head(1)
      if (h.isEmpty) 1 else math.max(1, h(0).getInt(0))
    }

  private def ivfCellsOf(e: DataFrame, nCells: Int, dimOpt: Option[Int]): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(e.sparkSession)
    val dim = embDim(e, dimOpt)
    val cents: Seq[Seq[Double]] = ivfCents(nCells, dim)
    val cellExpr = expr(
      s"""CAST(element_at(array_min(transform(sequence(0,${nCells - 1}), j ->
         |  array(l2_sq(element_at(cents, j + 1), v),
         |        cast(j as double)))), 2) AS INT)""".stripMargin)
    e.withColumn("cents", typedLit(cents))
      .select(col("vec_id"), col("v"), cellExpr.as("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
  }

  /** IVF cell-balance audit — the index-HEALTH diagnostic the serving
    * side of the ANN family (d9 search, d28 train, d29 multi-probe,
    * d21 recall) assumes but never checks: IVF's cost model is
    * O(n/nCells) per probe, which holds only when cells are BALANCED —
    * a hot cell (here >= 2x the ideal load) is the tail latency of
    * every query routed to it, a cold or empty cell is wasted fan-out
    * for every multi-probe query that ranks it. Per cell over a dense
    * 0..nCells-1 spine (empty cells must APPEAR — absence is the
    * finding): vector count, absolute load_ppm, x_ideal_ppm (load as
    * ppm of the perfect 1/nCells share), and the verdict ladder
    * empty / hot (>= 2e6 of ideal) / cold (<= 5e5) / balanced. The
    * operational response: hot cells -> retrain or split (d28's job),
    * many empties -> nCells oversized for the data's intrinsic
    * clustering.
    *
    * Scale shape: the shared persisted [[ivfCells]] assignment (inlined
    * centroids, map-only argmin), ONE map-side-combined int-key count,
    * an nCells-row spine join and a 1-row total broadcast-cross —
    * vectors stream once, nothing vector-sized shuffles.
    */
  def ivfBalance(emb: DataFrame, nCells: Int = 8,
                 dimOpt: Option[Int] = None): DataFrame = {
    require(nCells >= 1, "nCells must be >= 1")
    val cells = ivfCells(emb, nCells, dimOpt)
    val counts = cells.groupBy("cell").agg(count(lit(1)).as("n_vectors"))
    val spine = emb.sparkSession.range(nCells)
      .select(col("id").cast("int").as("cell"))
    val tot = counts.agg(sum("n_vectors").as("tot"))
    val out = spine.join(counts, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("n_vectors"), lit(0L)).as("n_vectors"))
      .crossJoin(tot)
      .select(col("cell"), col("n_vectors"),
        when(col("tot") > 0, expr("1000000 * n_vectors div tot")).as("load_ppm"),
        when(col("tot") > 0,
          expr(s"1000000 * n_vectors * $nCells div tot")).as("x_ideal_ppm"))
      .withColumn("verdict",
        when(col("n_vectors") === 0, lit("empty"))
          .when(col("x_ideal_ppm") >= 2000000L, lit("hot"))
          .when(col("x_ideal_ppm") <= 500000L, lit("cold"))
          .otherwise(lit("balanced")))
    val res = out.localCheckpoint()
    cells.unpersist(blocking = false)
    res
  }

  /** IVF assignment-margin audit — [[ivfBalance]]'s per-VECTOR
    * sibling and the recall-risk map that motivates d29's multi-probe:
    * a vector's `margin_ppm = 1e6 * d_own / d_second` (squared
    * distance to its own centroid over the runner-up's) says how
    * decisively it was assigned — near 0 is a `core` vector single-cell
    * search will always find, near 1e6 is a `boundary` vector sitting
    * between cells, exactly the one a true neighbor query loses when
    * nProbe = 1 (IVF's documented recall cliff lives entirely in this
    * population, which is why the d29 dial exists). The per-cell
    * boundary fraction is the principled way to CHOOSE nProbe;
    * verdicts: core (< 25% of runner-up distance), boundary (>= 75%),
    * interior between. Ties and the argmin share [[ivfCellsOf]]'s
    * lexicographic (dist, cell) order — sorting the same pair array
    * whose head IS d9's assignment, so the audit cannot disagree with
    * the index it audits.
    *
    * Scale shape: inlined-centroid map-only arithmetic (the same
    * left-fold double convention as the d9 oracle contract), zero
    * exchange, rides the scan.
    */
  def ivfMargins(emb: DataFrame, nCells: Int = 8,
                 dimOpt: Option[Int] = None): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    require(nCells >= 2, "nCells must be >= 2")
    val e = emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    val dim = embDim(e, dimOpt)
    val cents: Seq[Seq[Double]] = ivfCents(nCells, dim)
    val dsExpr = expr(
      s"""array_sort(transform(sequence(0,${nCells - 1}), j ->
         |  array(l2_sq(element_at(cents, j + 1), v),
         |        cast(j as double))))""".stripMargin)
    e.withColumn("cents", typedLit(cents))
      .select(col("vec_id"), dsExpr.as("ds"))
      .select(col("vec_id"),
        element_at(element_at(col("ds"), 1), 2).cast("int").as("cell"),
        when(element_at(element_at(col("ds"), 2), 1) > 0,
          floor(lit(1000000d) * element_at(element_at(col("ds"), 1), 1) /
            element_at(element_at(col("ds"), 2), 1)).cast("long"))
          .as("margin_ppm"))
      .withColumn("verdict",
        when(col("margin_ppm").isNull, lit("degenerate"))
          .when(col("margin_ppm") < 250000L, lit("core"))
          .when(col("margin_ppm") >= 750000L, lit("boundary"))
          .otherwise(lit("interior")))
  }

  /** Random-projection (Johnson–Lindenstrauss) dimensionality reduction
    * — the fourth leg of the ANN family beside hyperplane-LSH buckets
    * (d6), IVF cells (d9) and PQ codes (d16): project each embedding
    * onto `outDim` Rademacher ±1 planes (Achlioptas 2003 — sign-only
    * entries, so a deployment does adds/subtracts, no multiplies).
    * JL guarantees pairwise distances/cosines survive within
    * ~1/sqrt(outDim); downstream brute-force or IVF search then reads
    * dim/outDim× less vector data — the memory-bandwidth lever that
    * matters when the index IS the working set at 10^12 vectors. The
    * 1/sqrt(outDim) normalization is deliberately omitted (a global
    * scale factor — cosine/nearest-neighbor order is scale-invariant,
    * and sqrt is not oracle-stable); signs come from the shared [[h01]]
    * md5 convention so the oracle regenerates identical planes in SQL.
    *
    * Scale shape: planes are driver-precomputed and inlined (broadcast
    * pattern), the projection is MAP-ONLY left-fold arithmetic (the
    * shared aggregate/zip_with == list_sum/list_transform contract,
    * round(,6)), zero shuffle; output is long-format (vec_id, dim_idx,
    * val) — array-free, so the driver compare is engine-neutral.
    */
  /** SQ8 scalar quantization — the third leg of the vector-compression
    * family next to PQ (d16: subspace codebooks) and JL projection
    * (d19: dimensionality): per-DIMENSION global [min, max] ranges, each
    * coordinate encoded as one byte code = round(255*(x-mn)/(mx-mn)),
    * with the signed per-coordinate reconstruction residual alongside —
    * the audit that tells an index operator whether 8 bits suffice
    * before re-encoding a trillion vectors. A constant dimension
    * (mx == mn) encodes 0 with zero residual (pinned).
    *
    * Scale shape: the range table is ONE map-side-combined per-dim
    * min/max aggregate (dim-cardinality rows) collected and inlined as
    * literal arrays (the broadcast pattern); encoding is then MAP-ONLY.
    * All float steps are mirrored operation-for-operation in the oracle
    * (IEEE correctly-rounded ops, positive rounding args so HALF_UP ==
    * half-away), residuals round(,6). Long-format output — array-free,
    * engine-neutral for the driver compare.
    */
  def sq8Encode(emb: DataFrame): DataFrame = {
    val e = emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    val long = e.select(col("vec_id"),
      posexplode(col("v")).as(Seq("dim_idx", "x")))
    val stats = long.groupBy("dim_idx")
      .agg(min("x").as("mn"), max("x").as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val mins = stats.map(_._2).toSeq
    val maxs = stats.map(_._3).toSeq
    long
      .withColumn("mn", element_at(typedLit(mins), col("dim_idx") + 1))
      .withColumn("mx", element_at(typedLit(maxs), col("dim_idx") + 1))
      .withColumn("code",
        when(col("mx") > col("mn"),
          expr("cast(round(255.0 * (x - mn) / (mx - mn)) as int)"))
          .otherwise(lit(0)))
      .select(col("vec_id"), col("dim_idx"), col("code"),
        // + 0.0 collapses IEEE -0.0 to +0.0 (a residual that rounds to
        // zero keeps its sign otherwise, and the engines disagree on it)
        (round(expr("x - (mn + code * (mx - mn) / 255.0)"), 6) + lit(0.0)).as("err"))
  }

  def rpProject(emb: DataFrame, outDim: Int = 16,
                dimOpt: Option[Int] = None): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    require(outDim >= 1, "outDim must be >= 1")
    val e = emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    val dim = dimOpt.getOrElse {
      val h = e.select(size(col("v"))).head(1)
      if (h.isEmpty) 1 else math.max(1, h(0).getInt(0))
    }
    val planes: Seq[Seq[Double]] = (0 until outDim).map { j =>
      (0 until dim).map(i => if (h01(s"rp:$j:$i") >= 0) 1.0 else -1.0)
    }
    val proj = expr(
      s"""transform(sequence(0, ${outDim - 1}), j ->
         |  round(dot_d(element_at(planes, j + 1), v), 6))""".stripMargin)
    e.withColumn("planes", typedLit(planes))
      .select(col("vec_id"),
        when(size(col("v")) === dim, proj)
          .otherwise(raise_error(concat(
            lit(s"rpProject: embedding dimension mismatch (planes=$dim, got "),
            size(col("v")), lit(")")))).as("proj"))
      .select(col("vec_id"), posexplode(col("proj")))
      .select(col("vec_id"), col("pos").cast("int").as("dim_idx"),
        col("col").as("val"))
  }

  /** md5-derived value in [-1, 1) — the deterministic stand-in for a
    * trained parameter, shared by the PQ codebooks (same family as the
    * d6 planes / d9 centroids).
    */
  private def h01(s: String): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16).toDouble / math.pow(2, 59) - 1.0
  }

  /** Sub-space `mm`'s PQ codebook (nCents × sub) — shared by the encode
    * ([[pqCodes]]) and search ([[adcTopK]]) sides, which MUST agree.
    */
  private def pqCodebook(mm: Int, nCents: Int, sub: Int): Seq[Seq[Double]] =
    (0 until nCents).map(j => (0 until sub).map(i => h01(s"pq:$mm:$j:$i")).toSeq)

  /** Product-quantization encoding (Jégou et al. 2011) — the third leg
    * of the ANN family beside hyperplane-LSH buckets (T6) and IVF cells
    * (T14): compress each vector to `m` sub-space centroid ids (m=4
    * codes over 16-dim sub-spaces, 16 centroids each = 4 bits/code), the
    * memory layout that makes 10^12-vector indexes feasible — an ADC
    * scan reads codes (m bytes/vector), never raw floats. Codebooks are
    * the d9 deterministic md5 centroids per (subspace, centroid, dim) —
    * a production PQ trains them with per-subspace k-means; the ENCODE
    * plumbing (per-subspace dist² argmin with the array_min tie rule,
    * codebooks inlined driver-side = broadcast pattern, MAP-ONLY zero
    * shuffle) is identical and is the oracle-checked part. `err` is the
    * summed per-subspace quantization error — the index-quality signal a
    * real deployment monitors.
    */
  def pqCodes(emb: DataFrame, m: Int = 4, nCents: Int = 16,
      dimOpt: Option[Int] = None): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    require(m >= 1 && nCents >= 1, "m and nCents must be >= 1")
    val e = emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    val dim = dimOpt.getOrElse {
      val h = e.select(size(col("v"))).head(1)
      if (h.isEmpty) m else math.max(m, h(0).getInt(0))
    }
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    val withPairs = (0 until m).foldLeft(e) { (df, mm) =>
      df.withColumn(s"cb$mm", typedLit(pqCodebook(mm, nCents, sub)))
        .withColumn(s"p$mm", expr(
          s"""array_min(transform(sequence(0,${nCents - 1}), j ->
             |  array(l2_sq(element_at(cb$mm, j + 1), slice(v, ${mm * sub + 1}, $sub)),
             |        cast(j as double))))""".stripMargin))
    }
    val codes = (0 until m).map(mm =>
      expr(s"CAST(element_at(p$mm, 2) AS INT)").as(s"code$mm"))
    val err = round(expr((0 until m).map(mm => s"element_at(p$mm, 1)").mkString(" + ")), 6)
    withPairs.select(col("vec_id") +: codes :+ err.as("err"): _*)
  }

  /** ADC top-k search over PQ codes — the serving side of [[pqCodes]]
    * and the reason PQ exists: candidates are represented ONLY by their
    * m small codes; a probe's distance to a candidate is the sum of
    * per-subspace distances to the candidate's CODEBOOK CENTROIDS
    * (asymmetric distance computation), so the scan touches m ints per
    * candidate instead of `dim` floats — at 10^12 vectors the code table
    * is ~250x smaller than the raw vectors and is the only thing read.
    *
    * Shape: one encode pass (at scale the code table is a prebuilt
    * stored index, not recomputed per query), probes broadcast against
    * it (the d5 baseline shape; the d7 probe-chunking escape applies
    * unchanged when the probe set grows), distance via codebook lookup +
    * fold — map-only per pair, no raw-vector join. Heavy ADC ties (many
    * candidates share code words at this corpus size) break by vec_id,
    * so results are deterministic; a probe's distance to its own
    * code-mates equals its own quantization error by construction.
    */
  def adcTopK(emb: DataFrame, k: Int = 5, m: Int = 4, nCents: Int = 16,
      dimOpt: Option[Int] = None): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    require(k >= 1, "k must be >= 1")
    val e = emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    val dim = dimOpt.getOrElse {
      val h = e.select(size(col("v"))).head(1)
      if (h.isEmpty) m else math.max(m, h(0).getInt(0))
    }
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    // pass the resolved dim down (pqCodes would otherwise re-run the same
    // one-row inference job); no persist — the code table feeds exactly
    // one join here, and at scale it is a PREBUILT stored index read from
    // the lakehouse, not recomputed per query
    val codes = pqCodes(emb, m, nCents, Some(dim)).drop("err")
    val probes = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q"))
    val joined = (0 until m).foldLeft(
      codes.join(broadcast(probes), col("vec_id") =!= col("q_id"))) { (df, mm) =>
      df.withColumn(s"cb$mm", typedLit(pqCodebook(mm, nCents, sub)))
    }
    val adc = round(expr((0 until m).map(mm =>
      s"l2_sq(element_at(cb$mm, code$mm + 1), slice(q, ${mm * sub + 1}, $sub))")
      .mkString(" + ")), 6)
    joined.withColumn("adc", adc)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("adc"))
  }

  /** K-means training via Lloyd iterations — the index-BUILD step the
    * serving-side ANN family assumes away: d9/d17 assign against FIXED
    * hash-random centroids, which is an honest baseline but not what
    * production builds (random centroids waste cells on empty regions;
    * trained ones track the data's density). This is Lloyd's algorithm
    * in PURE INTEGER arithmetic after one ppm quantization
    * (floor(x * 1e6) per coordinate): assignment distances are exact
    * BIGINT sums of squares (64 dims at ±2e6 diff -> max 2.6e14, far
    * inside Long), means are truncating integer division, and Long
    * addition is associative — so unlike float k-means the result is
    * BIT-REPRODUCIBLE across partitionings AND expressible in the
    * DuckDB oracle, which unrolls the same iterations relationally
    * (the e23 integer-PageRank argument applied to clustering). An
    * empty cell keeps its previous centroid (deterministic, mirrored
    * in the oracle's COALESCE). Output after `iters` updates: one row
    * per (cell, dim) with the trained coordinate plus the final
    * assignment's member count and integer inertia — inertia is THE
    * training diagnostic (it must not increase across iterations, a
    * law the unit test pins).
    *
    * Scale shape: per iteration ONE map-only assignment (centroid
    * literal inlined — the broadcast pattern; k*d longs, trivially
    * under any broadcast limit at real k) and ONE map-side-combined
    * (cell, dim) sum whose shuffle carries nCells*dim rows per task,
    * never data; the k*d sum table collects to the driver between
    * iterations exactly like every production Spark k-means (it IS the
    * next broadcast). The vector table is scanned iters+1 times —
    * persisted once up front.
    */
  def kmeansTrain(emb: DataFrame, nCells: Int = 8, iters: Int = 2,
      dimOpt: Option[Int] = None): DataFrame = {
    require(nCells >= 1, "nCells must be >= 1")
    require(iters >= 1, "iters must be >= 1")
    val e = emb.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
        .as("q"))
      .persist().registered
    val dim = dimOpt.getOrElse {
      val h = e.select(size(col("q"))).head(1)
      if (h.isEmpty) 1 else math.max(1, h(0).getInt(0))
    }
    // initial centroids: the shared md5 convention, ppm-quantized with
    // the exact double expression the oracle reuses (h/2^59*1e6, floored)
    var cents: IndexedSeq[IndexedSeq[Long]] = (0 until nCells).map { c =>
      (0 until dim).map { i =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"c:$c:$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 15)
        val h = java.lang.Long.parseLong(hex, 16)
        math.floor(h.toDouble / math.pow(2, 59) * 1000000d).toLong - 1000000L
      }
    }
    def withAssign(df: DataFrame): DataFrame = {
      val lit = cents.map(_.mkString("array(", ",", ")"))
        .mkString("array(", ",", ")")
      df.withColumn("cents", expr(lit))
        .withColumn("dc", expr(
          s"""array_min(transform(sequence(0, ${nCells - 1}), j ->
             |  array(aggregate(zip_with(element_at(cents, j + 1), q, (p, x) -> (p - x) * (p - x)),
             |                  cast(0 as bigint), (s, x) -> s + x),
             |        cast(j as bigint))))""".stripMargin))
        .withColumn("cell", expr("CAST(element_at(dc, 2) AS INT)"))
        .withColumn("d2", expr("element_at(dc, 1)"))
        .drop("cents", "dc")
    }
    (1 to iters).foreach { _ =>
      val sums = withAssign(e)
        .select(col("cell"), posexplode(col("q")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3))))
        .toMap
      cents = (0 until nCells).map { c =>
        (0 until dim).map { i =>
          sums.get((c, i)).map { case (s, n) => s / n }.getOrElse(cents(c)(i))
        }
      }
    }
    val spark = emb.sparkSession
    import spark.implicits._
    val centDf = cents.zipWithIndex.flatMap { case (row, c) =>
      row.zipWithIndex.map { case (p, i) => (c, i, p) }
    }.toDF("cell", "dim_idx", "c_ppm")
    val stats = withAssign(e).groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"), sum(col("d2")).as("inertia"))
    centDf.join(broadcast(stats), Seq("cell"), "left")
      .select(col("cell"), col("dim_idx"), col("c_ppm"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("inertia"), lit(0L)).as("inertia"))
  }

  def annIvfTopK(emb: DataFrame, k: Int = 5, nCells: Int = 16,
      dimOpt: Option[Int] = None): DataFrame = {
    val cells = ivfCells(emb, nCells, dimOpt)
    val p = cells.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q"), col("cell"))
    cells.join(broadcast(p), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cos6(emb).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("score"))
  }

  /** Multi-probe IVF search — the nprobe dial, the single knob every
    * production vector index tunes: d9 probes ONE cell (fast, recall
    * capped by whatever hashed elsewhere — d21 measures how much);
    * this probes each query's `nProbe` NEAREST cells, trading linear
    * candidate growth for recall. The two laws that define it are both
    * pinned: at nProbe=1 the output EQUALS d9 row-for-row (same argmin
    * tie convention — array_min's [d2, j] lexicographic order is
    * ORDER BY d2, cell), and at nProbe=nCells it equals d5's exact
    * brute force (every vector lives in exactly one cell, so probing
    * all cells IS the full scan) — the dial provably interpolates
    * between the index and the truth. Per-query top-1 score is
    * monotone in nProbe (candidate supersets), also pinned.
    *
    * Scale shape: the cell table is the shared persisted d9 index; the
    * probe-side cell ranking is nCells distances per probe (map work
    * over the small probe set), and the candidate join replicates each
    * probe to its nProbe cells — candidates scale as nProbe/nCells of
    * the data per probe, the exact knob semantics. Probes broadcast
    * (d7's chunking applies unchanged when the probe set grows).
    */
  def annIvfMultiprobe(emb: DataFrame, k: Int = 5, nCells: Int = 16,
      nProbe: Int = 3, dimOpt: Option[Int] = None): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    require(nProbe >= 1 && nProbe <= nCells, "nProbe must be in [1, nCells]")
    val cells = ivfCells(emb, nCells, dimOpt)
    val dim = dimOpt.getOrElse {
      val h = cells.select(size(col("v"))).head(1)
      if (h.isEmpty) 1 else math.max(1, h(0).getInt(0))
    }
    val cents: Seq[Seq[Double]] = (0 until nCells).map { c =>
      (0 until dim).map { i =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"c:$c:$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 15)
        java.lang.Long.parseLong(hex, 16).toDouble / math.pow(2, 59) - 1.0
      }
    }
    val probes = cells.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q"))
      .withColumn("cents", typedLit(cents))
      .withColumn("dj", explode(expr(
        s"""transform(sequence(0, ${nCells - 1}), j ->
           |  array(l2_sq(element_at(cents, j + 1), q),
           |        cast(j as double)))""".stripMargin)))
      .select(col("q_id"), col("q"),
        expr("element_at(dj, 1)").as("d2"),
        expr("CAST(element_at(dj, 2) AS INT)").as("cell"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("d2"), col("cell"))))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("q"), col("cell"))
    cells.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cos6(emb).as("score"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("score"))
  }

  /** ANN index-quality evaluation: recall@k of the IVF index
    * ([[annIvfTopK]]) against the EXACT brute-force truth
    * ([[annCosineTopK]]) per probe — the eval every production vector
    * index ships with, because an ANN index without a measured recall
    * is an unquantified correctness trade (an IVF probe only scans its
    * own cell, so a true neighbor in another cell is silently missed;
    * THIS op is what tells you how often). Output: per probe the truth
    * size, the number of true neighbors the index found, and integer
    * recall ppm.
    *
    * Scale shape: both legs are the already-hardened operators; the
    * evaluation adds two (q_id, vec_id)-keyed aggregations and one
    * pointer-sized join — at scale you run it over a SAMPLED probe set
    * (recall is a statistical property; 1k probes bound it tightly),
    * so the brute-force truth leg stays affordable while the index
    * serves the full set.
    */
  def annRecall(emb: DataFrame, k: Int = 5, nCells: Int = 16): DataFrame = {
    val truth = annCosineTopK(emb, k).select(col("q_id"), col("vec_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val approx = annIvfTopK(emb, k, nCells).select(col("q_id"), col("vec_id"))
    val hits = truth.join(approx, Seq("q_id", "vec_id"))
      .groupBy("q_id").agg(count(lit(1)).as("h"))
    truth.groupBy("q_id").agg(count(lit(1)).as("n"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("n").cast("int").as("n_truth"),
        coalesce(col("h"), lit(0L)).cast("int").as("n_hits"))
      .withColumn("recall_ppm",
        expr("(1000000 * cast(n_hits as bigint)) div n_truth"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic dedup by
    * clustering-then-pairwise: k-means-style cells (here the [[ivfCells]]
    * deterministic coarse quantizer) bound the quadratic pairwise-cosine
    * term to within-cell work, and a vector is marked duplicate iff some
    * LOWER-vec_id cell-mate sits above `tau` cosine. The keep rule is the
    * paper's one-per-group greedy with a deterministic representative
    * (min vec_id) instead of the paper's centroid-distance choice — same
    * dedup volume, reproducible across runs/partitionings.
    *
    * Scale shape: an exact-duplicate pre-pass (groupBy the vector,
    * min-id representative — verdict-preserving, see inline proof)
    * keeps mirror/boilerplate clusters out of the quadratic stage; ONE
    * shuffle then co-partitions the DISTINCT-vector cell table with
    * itself on the cell key (at the paper's k ≈ sqrt(n) the expected
    * cell is tiny, and the heavy tail — exact dups — is already gone);
    * the dup set is a distinct on vec_id; the rep verdict expands back
    * over the same vector-keyed shuffle the pre-pass paid.
    */
  def semDedup(emb: DataFrame, tau: Double = 0.4, nCells: Int = 16,
      dimOpt: Option[Int] = None): DataFrame = {
    require(tau > -1.0 && tau < 1.0, s"tau must be in (-1,1), got $tau")
    val e = emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    // exact pre-pass (the d2 hardening): crawled corpora carry massive
    // EXACT-duplicate clusters (mirrors, boilerplate) which would all
    // land in one cell and blow the pairwise stage up quadratically.
    // Only distinct vectors (min-id representative) enter the cells;
    // the rewrite is verdict-preserving because an exact duplicate has
    // cos = 1 > tau with its representative, and any non-rep witness
    // below an id implies a rep witness at the same cosine.
    val reps = e.groupBy("v").agg(min("vec_id").as("vec_id"))
      .select(col("vec_id"), col("v"))
    val cells = ivfCellsOf(reps, nCells, dimOpt)
    val r = cells.select(col("vec_id").as("r_id"), col("v").as("q"), col("cell"))
    val dups = cells.join(r, "cell")
      .filter(col("r_id") < col("vec_id"))
      .filter(cos6(emb) > tau)
      .select(col("vec_id")).distinct()
    val repVerdict = cells.join(dups.withColumn("d", lit(true)), Seq("vec_id"), "left")
      .select(col("v"), col("vec_id").as("rep"), col("cell"),
        coalesce(col("d"), lit(false)).as("rep_dup"))
    // expand back: a non-representative IS a duplicate (cos=1 with its
    // rep); the join key is the vector itself — the same shuffle the
    // pre-pass groupBy already paid, and only distinct-v rows broadcast-
    // or shuffle-join back
    e.join(repVerdict, "v")
      .select(col("vec_id"), col("cell"),
        (col("rep_dup") || col("vec_id") =!= col("rep")).as("is_dup"))
  }

  /** SemDeDup operating curve — d23's S-curve idea applied to the
    * semantic deduper: "how many documents would each tau discard?"
    * MEASURED on the corpus, not assumed. d14 answers for ONE tau; a
    * curation run picks tau by inspecting this table (the knee between
    * near-dup removal and diversity loss), and re-running the whole
    * pairwise stage per candidate tau is the naive cost this op
    * removes: the pairwise leg runs ONCE, reduces to each
    * representative's MAX lower-id within-cell cosine, and the entire
    * curve is then a 9-bucket count over that one number per rep —
    * a vector is d14-duplicate at tau iff it is a non-rep (cos = 1
    * with its representative, dup at every tau < 1) or its rep's max
    * witness cosine exceeds tau. The cross-op law is pinned: the curve
    * row at tau=0.4 equals d14's own is_dup count exactly.
    *
    * Scale shape: the exact pre-pass + cell join are d14's (one
    * pairwise pass); the reduction is a map-side-combined max per rep;
    * the grid join replicates each rep row 9× into a map-side-combined
    * count — no second corpus pass, no per-tau re-run.
    */
  def semDedupCurve(emb: DataFrame, nCells: Int = 16,
      dimOpt: Option[Int] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val reps = e.groupBy("v").agg(min("vec_id").as("vec_id"))
      .select(col("vec_id"), col("v"))
    val cells = ivfCellsOf(reps, nCells, dimOpt)
    val r = cells.select(col("vec_id").as("r_id"), col("v").as("q"), col("cell"))
    val repMax = cells.join(r, "cell")
      .filter(col("r_id") < col("vec_id"))
      .select(col("vec_id"), cos6(emb).as("c"))
      .groupBy("vec_id").agg(max(col("c")).as("mc"))
    val tot = e.agg(count(lit(1)).as("n_total"))
    val nreps = reps.agg(count(lit(1)).as("n_reps"))
    val grid = (1 to 9).map(_ * 100000).toDF("tau_ppm")
    val rd = repMax.crossJoin(broadcast(grid))
      .where(col("mc") > col("tau_ppm") / lit(1000000.0))
      .groupBy("tau_ppm").agg(count(lit(1)).as("k"))
    grid.join(rd, Seq("tau_ppm"), "left").crossJoin(tot).crossJoin(nreps)
      .select(col("tau_ppm").cast("int").as("tau_ppm"),
        (coalesce(col("k"), lit(0L)) + col("n_total") - col("n_reps"))
          .cast("long").as("n_dup"),
        col("n_total").cast("long").as("n_docs"))
  }

  /** Embedding-cosine near-duplicate pairs — the vector analog of the
    * minhash two-phase pipeline: hyperplane-LSH bucket join for candidate
    * generation (8 planes by default — coarser than [[annLshBuckets]]'s
    * 16, trading candidate volume for recall), then EXACT cosine on the
    * candidate pairs only, thresholded.
    *
    * Scale shape mirrors d2: the persisted bucket table is (vec_id, int);
    * the self-join shuffles only bucket keys, buckets above
    * `maxBucket` distinct vectors are dropped (degenerate families —
    * all-zero embeddings, mirrored shards), and the exact verification
    * joins embeddings back by vec_id for candidate pairs only.
    */
  def embCosinePairs(emb: DataFrame, nPlanes: Int = 8, minCos: Double = 0.1,
      maxBucket: Int = 4096): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(emb.sparkSession)
    val e = emb.select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val b = lshBuckets(emb, nPlanes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val surviving = b.groupBy("bucket").agg(count(lit(1)).as("bn"))
      .filter(col("bn") >= 2 && col("bn") <= maxBucket)
      .select("bucket")
    val pruned = b.join(surviving, Seq("bucket"))
    val pairs = pruned.as("x").join(pruned.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
    pairs
      .join(e.select(col("vec_id").as("a"), col("v").as("va")), "a")
      .join(e.select(col("vec_id").as("b"), col("v").as("vb")), "b")
      .select(col("a"), col("b"), round(expr("cosine_sim(va, vb)"), 6).as("cos"))
      .filter(col("cos") >= minCos)
  }

  // ------------------------------------------------------ text analysis

  private val stop = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "den"),
    "es" -> Seq("el", "la", "los", "las", "una", "es", "y", "que"),
    "fr" -> Seq("le", "les", "des", "une", "est", "et", "dans", "pour"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"),
  )
  private val langOrder = Seq("en", "de", "es", "fr", "zh")

  private def stopCount(lang: String): Column = {
    val set = stop(lang).map(w => s"'$w'").mkString(",")
    expr(s"size(filter(w, x -> x IN ($set)))")
  }

  /** Stopword-profile language ID (n-gram-class heuristic): count
    * stopword hits per language, argmax with a fixed precedence order
    * for ties (deterministic). Per-row expression work only.
    */
  /** Stopword-count argmax over the `s_<lang>` columns, ties broken by
    * [[langOrder]] precedence — the one prediction rule shared by
    * [[langId]] (whole-doc) and [[langMix]] (per-paragraph).
    */
  private def langArgmax: Column =
    langOrder.init.zipWithIndex.foldRight(lit(langOrder.last)) {
      case ((l, idx), elseCol) =>
        val rest = langOrder.drop(idx + 1)
        when(rest.map(r => col(s"s_$l") >= col(s"s_$r")).reduce(_ && _), lit(l))
          .otherwise(elseCol)
    }

  def langId(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 1)
      .select(Seq(col("doc_id"), size(col("w")).as("n_words")) ++
        langOrder.map(l => stopCount(l).as(s"s_$l")): _*)
    base.select(col("doc_id"), langArgmax.as("lang_pred"),
      greatest(langOrder.map(l => col(s"s_$l")): _*).as("n_stop"), col("n_words"))
  }

  /** Declared-vs-predicted language agreement — the metadata-TRUST
    * audit: crawled pages carry a declared language (the html lang
    * attribute / HTTP header, here the corpus `lang` column) and it
    * lies constantly on the real web (template defaults, CMS installs
    * left on en) — every multilingual corpus pipeline routes on
    * PREDICTED language and keeps this table to quantify how far the
    * metadata can be trusted per source. Runs [[langId]]'s exact
    * stopword-argmax inline (same lists, same tie precedence) beside
    * the declared value; verdict `weak_signal` when ZERO stopwords hit
    * (an argmax over zeros is a coin flip, and reporting it as a
    * mismatch would slander the metadata — checked FIRST), else
    * agree / mismatch. Word-less docs drop (the t1 contract).
    *
    * Scale shape: pure per-row expression work, zero exchange, no
    * join — the declared column rides the same row.
    */
  def langAgreement(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("lang").as("declared"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 1)
      .select(Seq(col("doc_id"), col("declared")) ++
        langOrder.map(l => stopCount(l).as(s"s_$l")): _*)
    base.select(col("doc_id"), col("declared"),
      langArgmax.as("predicted"),
      greatest(langOrder.map(l => col(s"s_$l")): _*).cast("int").as("n_stop"))
      .withColumn("verdict",
        when(col("n_stop") === 0, lit("weak_signal"))
          .when(col("declared") === col("predicted"), lit("agree"))
          .otherwise(lit("mismatch")))
  }

  /** Paragraph-level language-mix detection — the curation upgrade of
    * [[langId]]: a document whose paragraphs vote for different
    * languages is usually template chrome around translated content, or
    * concatenated shards — both low-value for monolingual training
    * mixes. Runs the SAME stopword-argmax per fixed paragraph window
    * (the t6/t11 /8 convention), then per doc: paragraph count,
    * distinct languages, majority language (ties: count desc, lang
    * asc), mixed flag.
    *
    * Scale shape: window explode + per-window scoring is map-only; ONE
    * doc-keyed map-combined aggregation over (doc, lang) vote counts;
    * the majority pick is a min(struct) aggregate (the e24 pattern),
    * not a window.
    */
  def langMix(docs: DataFrame, paraWords: Int = 8): DataFrame = {
    val paras = docs.select(col("doc_id"), words(col("text")).as("dw"))
      .filter(size(col("dw")) >= 1)
      .select(col("doc_id"), explode(paraChunks(col("dw"), paraWords)).as("para"))
      .select(col("doc_id"), words(col("para")).as("w"))
    val scored = paras.select(Seq(col("doc_id")) ++
      langOrder.map(l => stopCount(l).as(s"s_$l")): _*)
    val votes = scored.select(col("doc_id"), langArgmax.as("lg"))
      .groupBy("doc_id", "lg").agg(count(lit(1)).as("c"))
    votes.groupBy("doc_id").agg(
        sum("c").as("n_paras"),
        count(lit(1)).as("n_langs"),
        min(struct((-col("c")).as("nc"), col("lg").as("l"))).as("t"))
      .select(col("doc_id"), col("n_paras"), col("n_langs"),
        col("t.l").as("major_lang"), (col("n_langs") > 1).as("mixed"))
  }

  /** Quality scoring: length, mean word length, digit/punctuation
    * ratios, stopword ratio, and a composite score — the standard cheap
    * pre-filters of a pretraining pipeline. Per-row, codegen'd.
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"), words(col("text")).as("w"))
      .filter(length(col("text")) >= 1)
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(col("w")).as("n_words"),
        expr("aggregate(w, 0, (s, x) -> s + length(x))").as("sum_wlen"),
        length(regexp_replace(col("text"), "[^0-9]", "")).as("n_digit"),
        length(regexp_replace(col("text"), "[^.,;:!?]", "")).as("n_punct"),
        stopCount("en").as("s_en"))
    base.select(
      col("doc_id"), col("n_chars"), col("n_words"),
      round(col("sum_wlen") / col("n_words").cast("double"), 4).as("mean_wlen"),
      round(col("n_digit") / col("n_chars").cast("double"), 4).as("digit_ratio"),
      round(col("n_punct") / col("n_chars").cast("double"), 4).as("punct_ratio"),
      round(col("s_en") / col("n_words").cast("double"), 4).as("stop_ratio"),
      round(
        least(lit(1.0), col("n_words") / lit(100.0)) *
          (lit(1.0) - col("n_digit") / col("n_chars").cast("double")) *
          (lit(1.0) - least(lit(1.0), lit(5.0) * col("n_punct") / col("n_chars").cast("double"))), 4)
        .as("quality"))
  }

  /** Gopher/C4-style quality-RULE bundle — the pass/fail curation gates
    * (Rae et al. 2021 §A1.1; Raffel et al. 2020 C4 heuristics) as one
    * per-document verdict: word-count range, mean word length, bullet- and
    * ellipsis-line ratios, alphabetic-word ratio, a distinct-stopword
    * floor, and the C4 "lorem ipsum"/curly-brace exclusions, AND-ed into
    * `keep`. Complements [[qualityScore]] (a continuous score): real
    * pipelines run the hard gates first, then score what survives.
    *
    * The word-soup corpus is single-line, so line-level rules get
    * deterministic structure synthesized from doc_id (the piiAug pattern):
    * 12-word lines; `- ` bullets on every line for doc_id%13=4 (fails the
    * 0.9 gate) else every 7th line; `...` endings on every line for
    * doc_id%11=6 (fails the 0.3 gate) else every 5th; a digit-token tail
    * halving alpha_ratio for doc_id%19=2; lorem-ipsum / code-brace tails
    * for doc_id%31=9 / doc_id%29=3. The oracle mirrors the augmentation
    * byte-for-byte.
    *
    * Scale shape: MAP-ONLY — per-row expressions, no shuffle, no UDF;
    * every rule is a Catalyst built-in over the decorated text, so the
    * whole bundle rides inside WholeStageCodegen in the scan stage.
    */
  /** The t14/t36 shared line-decorated corpus: (doc_id, w0, t) where `t`
    * is the word-soup re-lined into 12-word lines with deterministic
    * bullet/ellipsis decoration and junk-tail lines, all pure functions
    * of doc_id (the piiAug pattern) so oracles re-derive `t` byte-for-byte.
    */
  private def decoratedText(docs: DataFrame): DataFrame = {
    val d = docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"), words(col("text")).as("w0"))
    val lines = transform(paraChunks(col("w0"), 12), (c, i) =>
      concat(
        when(col("doc_id") % 13 === 4 || (col("doc_id") + i) % 7 === 0, lit("- "))
          .otherwise(lit("")),
        c,
        when(col("doc_id") % 11 === 6 || (col("doc_id") + i) % 5 === 0, lit("..."))
          .otherwise(lit("."))))
    val t = concat(
      concat_ws("\n", lines),
      when(col("doc_id") % 19 === 2,
        concat(lit("\n"), trim(expr("repeat('7 ', cast(ceil(size(w0)/2.0) as int))"))))
        .otherwise(lit("")),
      when(col("doc_id") % 31 === 9, lit("\nlorem ipsum dolor sit amet")).otherwise(lit("")),
      when(col("doc_id") % 29 === 3, lit("\nfunction f() { return 1; }")).otherwise(lit("")))
    d.select(col("doc_id"), col("w0"), t.as("t"))
  }

  /** Sentence-boundary regex: split after terminal punctuation followed
    * by whitespace, but ONLY when the next character opens a sentence
    * (uppercase or digit). The lookarounds keep both sides of the
    * boundary intact and refuse the two classic false splits: an
    * abbreviation's period precedes a lowercase word ("e.g. more"), and
    * a decimal point has no following whitespace ("3.14"). Java regex —
    * lookbehind is unavailable in RE2-based engines, which is exactly
    * why the oracle re-derives sentences arithmetically instead of
    * mirroring the regex. Documented drop: quote-terminated sentences
    * ("...end." inside quotes) follow the terminal quote, not handled.
    */
  val SentenceBoundary = "(?<=[.!?])" + wsClass + "+(?=[A-Z0-9])"

  /** Sentence segmentation over sentence-structured text synthesized
    * from doc_id (the piiAug pattern — the word soup has no sentence
    * structure of its own): 9-word sentences, first word capitalized
    * (or a digit-led sentence for (doc_id+i)%5=4, pinning the [0-9]
    * branch of the boundary lookahead), an "e.g. more" abbreviation trap
    * for %6=2 (must NOT split — lowercase follows), a "3.14" decimal
    * trap for %7=3 (must NOT split — no whitespace after the point),
    * terminators cycling . ! ? by %4, and 1-or-2-space separators by %3
    * (pinning that the splitter consumes the WHOLE whitespace run).
    * Output: one row per sentence with its index and word count. The
    * DuckDB oracle constructs the expected sentences arithmetically from
    * the same moduli, so a MATCH proves the regex splits at every
    * constructed boundary and at neither trap.
    *
    * Scale shape: MAP-ONLY — construction, split, and posexplode are
    * per-row Catalyst built-ins (generators run in the scan stage);
    * zero exchange at any corpus size.
    */
  def sentenceSplit(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val d = docs.filter(length(col("text")) >= 1)
      .select(id, words(col("text")).as("w0"))
    val sents = transform(paraChunks(col("w0"), 9), (c, i) =>
      concat(
        when((id + i) % 5 === 4, concat(lit("7 "), c))
          .otherwise(concat(upper(c.substr(lit(1), lit(1))), c.substr(lit(2), length(c)))),
        when((id + i) % 6 === 2, lit(" e.g. more")).otherwise(lit("")),
        when((id + i) % 7 === 3, lit(" 3.14")).otherwise(lit("")),
        when((id + i) % 4 === 1, lit("!"))
          .when((id + i) % 4 === 2, lit("?"))
          .otherwise(lit("."))))
    val withSep = transform(sents, (x, i) =>
      when(i === 0, x).otherwise(concat(
        when((id + i - 1) % 3 === 1, lit("  ")).otherwise(lit(" ")), x)))
    d.select(id, concat_ws("", withSep).as("text"))
      .select(id, posexplode(split(col("text"), SentenceBoundary)))
      .select(id, col("pos").as("sent_idx"), col("col").as("sentence"),
        size(split(col("col"), wsClass + "+")).as("n_words"))
  }

  /** C4-style LINE-level scrubber (Raffel et al. 2020 §2.2) — where
    * [[qualityRules]] gates whole documents, this repairs them: each line
    * must end in terminal punctuation (`.` `!` `?` `"`), not be
    * ellipsis-terminated, carry >= 5 words, and contain neither
    * "lorem ipsum" nor a curly brace; surviving lines are rejoined into
    * `clean_text`. Runs over the same decorated corpus as t14 plus two
    * extra junk lines that make the lorem/brace rules independently
    * decisive (a lorem line that passes every other gate, doc_id%37=5,
    * and a brace line ditto, doc_id%41=7) — otherwise those rules would
    * only ever co-fire with the punctuation gate. Docs where every line
    * drops (the doc_id%11=6 all-ellipsis family) pin the empty-output
    * case: n_kept=0, clean_text=''.
    *
    * Scale shape: MAP-ONLY — the line array never leaves the row; split,
    * filter-lambda, and concat_ws are Catalyst built-ins riding
    * WholeStageCodegen in the scan stage. At 100 TB this is a pure
    * pass-through transform with zero exchange.
    */
  def c4LineScrub(docs: DataFrame): DataFrame = {
    val t2 = concat(
      col("t"),
      when(col("doc_id") % 37 === 5, lit("\nlorem ipsum dolor sit amet."))
        .otherwise(lit("")),
      when(col("doc_id") % 41 === 7, lit("\nretry { connect again now }."))
        .otherwise(lit("")))
    val keep = (x: Column) =>
      (x.endsWith(".") || x.endsWith("!") || x.endsWith("?") || x.endsWith("\"")) &&
        !x.endsWith("...") &&
        size(split(trim(x), wsClass + "+")) >= 5 &&
        instr(x, "lorem ipsum") === 0 && instr(x, "{") === 0
    decoratedText(docs)
      .select(col("doc_id"), split(t2, "\n").as("ls"))
      .select(col("doc_id"), size(col("ls")).as("n_lines"),
        filter(col("ls"), keep).as("kept"))
      .select(col("doc_id"), col("n_lines"),
        size(col("kept")).as("n_kept"),
        concat_ws("\n", col("kept")).as("clean_text"))
  }

  def qualityRules(docs: DataFrame): DataFrame = {
    val m = decoratedText(docs)
      .select(col("doc_id"), col("w0"), col("t"),
        split(col("t"), wsClass + "+").as("lw"),
        split(col("t"), "\n").as("ls"))
    val nW = size(col("lw")).cast("double")
    val nL = size(col("ls")).cast("double")
    // distinct stopwords present, on the raw words (decoration suffixes
    // like 'the.' would defeat token-exact matching on the decorated text)
    val nStop = stop("en").map(s => when(array_contains(col("w0"), s), 1).otherwise(0))
      .reduce(_ + _)
    m.select(
      col("doc_id"),
      size(col("lw")).as("n_words"),
      round(expr("aggregate(lw, 0, (s, x) -> s + length(x))") / nW, 4).as("mean_wlen"),
      round(size(filter(col("ls"), x => x.startsWith("- "))) / nL, 4).as("bullet_ratio"),
      round(size(filter(col("ls"), x => x.endsWith("..."))) / nL, 4).as("ellipsis_ratio"),
      round(size(filter(col("lw"), x => x.rlike("[a-zA-Z]"))) / nW, 4).as("alpha_ratio"),
      nStop.cast("int").as("n_stop"),
      (instr(col("t"), "lorem ipsum") > 0).as("has_lorem"),
      (instr(col("t"), "{") > 0).as("has_brace"))
      .withColumn("keep",
        col("n_words").between(50, 100000) &&
          col("mean_wlen").between(3.0, 10.0) &&
          col("bullet_ratio") <= 0.9 &&
          col("ellipsis_ratio") <= 0.3 &&
          col("alpha_ratio") >= 0.8 &&
          col("n_stop") >= 2 &&
          !col("has_lorem") && !col("has_brace"))
  }

  /** Sentence-length burstiness — the rhythm feature of document
    * quality: human prose alternates long and short sentences
    * (variance-to-mean ratio of sentence word counts well above a
    * Poisson-ish floor), while templated listings, machine
    * translation, and LM-generated filler run suspiciously UNIFORM —
    * so a near-zero VMR on multi-sentence text is a synthetic-text
    * tell, and an extreme VMR marks concatenation artifacts (a 200-word
    * run-on glued to one-word fragments). Sentences split on [.!?]+
    * runs (t41's convention), and all moments are EXACT integers:
    * mean_milli = 1000*W div n and vmr_milli = 1000*(n*Q - W^2) div
    * (n*W) with W = sum of lengths, Q = sum of squares — the
    * population variance-to-mean ratio with no float in sight.
    * Sentence-free docs come back NULL with verdict `empty` (no
    * rhythm is not uniform rhythm); ladder: uniform (< 500 milli) /
    * normal / bursty (> 5000 milli).
    *
    * Scale shape: pure per-row split/transform/aggregate expressions,
    * zero exchange, rides the scan.
    */
  def sentenceBurstiness(docs: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    // per segment, count NONEMPTY words (a trim guard would miss tabs —
    // column trim strips only spaces, the t51 lesson); a segment with
    // zero words is not a sentence
    val wc = filter(
      transform(split(t, "[.!?]+"), x =>
        size(filter(split(x, wsClass + "+"), w => length(w) > 0)).cast("long")),
      c => c > 0)
    val n = size(wc).cast("long")
    val w = aggregate(wc, lit(0L), (acc, x) => acc + x)
    val q = aggregate(wc, lit(0L), (acc, x) => acc + x * x)
    docs.select(col("doc_id"), n.as("n_sents"), w.as("n_words"), q.as("sq"))
      .select(col("doc_id"),
        when(col("n_sents") > 0, col("n_sents")).as("n_sents"),
        when(col("n_sents") > 0, col("n_words")).as("n_words"),
        when(col("n_sents") > 0,
          expr("1000 * n_words div n_sents")).as("mean_milli"),
        when(col("n_sents") > 0,
          expr("1000 * (n_sents * sq - n_words * n_words) div (n_sents * n_words)"))
          .as("vmr_milli"))
      .withColumn("verdict",
        when(col("n_sents").isNull, lit("empty"))
          .when(col("vmr_milli") < 500, lit("uniform"))
          .when(col("vmr_milli") > 5000, lit("bursty"))
          .otherwise(lit("normal")))
  }

  /** HTML-entity residue audit — the post-extraction integrity check
    * beside t44's mojibake score: `&amp;`, `&#8211;`, `&#x27;` in
    * EXTRACTED text mean an upstream stage escaped twice or a kernel
    * skipped entity decoding, and entity-laden text poisons both
    * tokenizers (one semantic char becomes 5-8 tokens) and dedup
    * (escaped and decoded variants of the same sentence never match).
    * Counts the three entity syntaxes separately — named
    * (`&name;`, 2-32 alnum), decimal (`&#123;`), hex (`&#x2f;`) —
    * because which one leaks fingerprints the buggy stage (named =
    * sanitizers, numeric = serializers). A bare `&` or a
    * semicolon-less `&shop` is NOT residue (pinned): ampersands are
    * legal prose, the terminator is what makes an entity.
    * `residue_ppm` is chars-inside-entities per million chars — length
    * matters, a 100-entity table row and one stray `&amp;` are
    * different findings.
    *
    * Scale shape: pure per-row codegen'd regex counting, zero
    * exchange, rides the scan.
    */
  def entityResidue(docs: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    val namedRe = "&[a-zA-Z][a-zA-Z0-9]{1,31};"
    val decRe = "&#[0-9]{1,7};"
    val hexRe = "&#[xX][0-9a-fA-F]{1,6};"
    def hits(re: String) = regexp_extract_all(t, lit(re), lit(0))
    docs.select(
      col("doc_id"),
      length(t).cast("long").as("n_chars"),
      size(hits(namedRe)).as("n_named"),
      size(hits(decRe)).as("n_decimal"),
      size(hits(hexRe)).as("n_hex"),
      (length(concat_ws("", hits(namedRe))) +
        length(concat_ws("", hits(decRe))) +
        length(concat_ws("", hits(hexRe)))).cast("long").as("ent_chars"))
      .withColumn("residue_ppm",
        when(col("n_chars") > 0, expr("1000000 * ent_chars div n_chars")))
      .withColumn("has_residue",
        col("n_named") + col("n_decimal") + col("n_hex") > 0)
  }

  /** Casing profile — the quality axis t14's Gopher rules skip: HOW
    * text is capitalized. ALL-CAPS flooding is the shouting/spam tell
    * (listing sites, SEO keyword walls), a near-zero capitalized-word
    * rate on long text is the lowercased-scrape tell (case-folded
    * pipelines leak into crawls and poison case-sensitive training),
    * and both are invisible to alpha-ratio checks because caps ARE
    * alpha. Per doc: word count, ALL-CAPS words (>= 2 letters, fully
    * [A-Z] — single letters like 'I' and 'A' are legitimate English),
    * capitalized-start words, uppercase and total ASCII letter chars,
    * `upper_ppm` (floor-div, NULL when no letters — no fake 0% on
    * digit-only text), and the `shouting` flag (>= 30% uppercase
    * letters over >= 5 words). ASCII-only classes by design: Unicode
    * case ratios would hinge on locale tables the two engines don't
    * share bit-for-bit.
    *
    * Scale shape: pure per-row codegen'd regex counting, zero
    * exchange, rides the scan.
    */
  def casingProfile(docs: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    val w = filter(split(t, wsClass + "+"), x => length(x) > 0)
    val upperChars = length(regexp_replace(t, "[^A-Z]", ""))
    val letterChars = length(regexp_replace(t, "[^A-Za-z]", ""))
    docs.select(
      col("doc_id"),
      size(w).as("n_words"),
      size(filter(w, x => x.rlike("^[A-Z]{2,}$"))).as("n_allcaps"),
      size(filter(w, x => x.rlike("^[A-Z]"))).as("n_capitalized"),
      upperChars.cast("long").as("n_upper_chars"),
      letterChars.cast("long").as("n_letter_chars"))
      .withColumn("upper_ppm",
        when(col("n_letter_chars") > 0,
          expr("1000000 * n_upper_chars div n_letter_chars")))
      .withColumn("shouting",
        coalesce(col("upper_ppm") >= 300000 && col("n_words") >= 5, lit(false)))
  }

  /** Token counting: whitespace tokens and a BPE-ish regex tokenization
    * (alnum runs + single non-alnum marks) — the token-budget accounting
    * column of a corpus pipeline.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) >= 1).select(
      col("doc_id"),
      size(words(col("text"))).as("ws_tokens"),
      size(regexp_extract_all(col("text"),
        lit("[A-Za-z0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f\\x0B]"), lit(0))).as("re_tokens"))

  /** PII-pattern regexes — the shared Java-regex/RE2 subset (explicit
    * character classes, bounded quantifiers, no `\b`/`\s`/backreferences:
    * both engines resolve these patterns leftmost-first to identical
    * non-overlapping match sets). Swap in jurisdiction-specific packs at
    * deployment; the counting shape below is the part that scales.
    */
  private[datapipe] val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[datapipe] val ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  private[datapipe] val phoneRe = "\\+[0-9]{1,3}-[0-9]{3,4}-[0-9]{4}"

  /** PII / sensitive-pattern detection — the scrubbing pre-pass of a
    * training-data pipeline: per-document counts of email-, IPv4- and
    * phone-shaped substrings plus a has_pii routing flag. Pure per-row
    * regexp_extract_all (codegen'd), no shuffle; the downstream redaction
    * pass is regexp_replace over the same patterns.
    */
  def piiStats(docs: DataFrame): DataFrame = {
    def n(re: String) = size(regexp_extract_all(col("text"), lit(re), lit(0)))
    docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"),
        n(emailRe).as("n_emails"), n(ipv4Re).as("n_ipv4"), n(phoneRe).as("n_phones"))
      .withColumn("has_pii", (col("n_emails") + col("n_ipv4") + col("n_phones")) > 0)
  }

  /** PII redaction — the scrub pass paired with [[piiStats]]: global
    * replace of each pattern family with a typed placeholder, applied in
    * a fixed order (email -> ipv4 -> phone; placeholders contain no
    * digits or '@', so later passes can't match inside earlier tokens).
    * Emits md5 + length of the redacted text rather than the text itself
    * (the bench/oracle contract); production callers redact in place
    * with the same nested `regexp_replace`. Pure per-row codegen'd
    * expressions, no shuffle.
    */
  def piiRedact(docs: DataFrame): DataFrame = {
    val red = regexp_replace(regexp_replace(regexp_replace(col("text"),
      emailRe, "<EMAIL>"), ipv4Re, "<IP>"), phoneRe, "<PHONE>")
    docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"), md5(red).as("red_md5"), length(red).as("red_len"))
  }

  /** Repetition-based quality stats (Gopher-class filters): the
    * within-document repetition signals a pretraining pipeline thresholds
    * on — top-word frequency fraction, duplicate 3-gram fraction, and
    * duplicate paragraph fraction (fixed `paraWords`-word windows, the
    * same paragraph convention as [[paragraphDedup]]). Pure per-row array
    * expressions, no shuffle.
    *
    * top_word_frac is O(distinct x words) per row via filter-count over
    * the distinct set — fine at web-document vocabulary (hundreds); for
    * pathological documents switch to sort + run-length (O(n log n)),
    * same result.
    */
  def repetitionStats(docs: DataFrame, paraWords: Int = 8): DataFrame = {
    require(paraWords > 0, "paraWords must be positive")
    val n = size(col("w"))
    val g3 = when(n >= 3,
      transform(sequence(lit(0), n - 3), i => concat_ws(" ", slice(col("w"), i + 1, lit(3)))))
      .otherwise(array().cast("array<string>"))
    val pp = paraChunks(col("w"), paraWords)
    docs.select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 1)
      .select(col("doc_id"), col("w"), g3.as("g3"), pp.as("pp"))
      .select(
        col("doc_id"),
        size(col("w")).as("n_words"),
        round(array_max(transform(array_distinct(col("w")), x =>
          size(filter(col("w"), y => y === x)))).cast("double") / size(col("w")), 4)
          .as("top_word_frac"),
        round(when(size(col("g3")) >= 1,
          (size(col("g3")) - size(array_distinct(col("g3")))).cast("double") / size(col("g3")))
          .otherwise(0.0), 4).as("dup_3gram_frac"),
        round((size(col("pp")) - size(array_distinct(col("pp")))).cast("double") / size(col("pp")), 4)
          .as("dup_para_frac"))
  }

  /** Winnowing document fingerprint (rolling-hash family): 4-word
    * shingle hashes, sliding window of 5, keep each window's minimum,
    * fingerprint = md5 of the sorted distinct minima. Robust to small
    * edits; equal fingerprints => heavily overlapping documents.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 8)
      .select(col("doc_id"),
        transform(sequence(lit(0), size(col("w")) - 4),
          i => h60(concat_ws(" ", slice(col("w"), i + 1, lit(4))))).as("hs"))
      .select(col("doc_id"), size(col("hs")).as("n_grams"),
        expr("md5(concat_ws(',', transform(array_sort(array_distinct(" +
          "transform(sequence(0, size(hs) - 5), i -> array_min(slice(hs, i + 1, 5))))), " +
          "x -> cast(x as string))))").as("fp"))

  // ----------------------------------------------- corpus assembly
  // The steps between "clean documents" and "training batches":
  // benchmark decontamination, stratified downsampling, source mixing,
  // and sequence packing. All deterministic (hash-derived randomness),
  // so a re-run — or a different engine — reproduces the same corpus.

  /** Benchmark decontamination — the eval-overlap scrub a pretraining
    * pipeline runs before training (the GPT-3/Gopher n-gram rule): a
    * training document is contaminated iff it shares at least one
    * n-word gram with the benchmark (eval) corpus.
    *
    * Shape at scale: the benchmark side is SMALL (a full eval-suite
    * collection is a few million distinct grams), so its gram hashes
    * broadcast and the training side never shuffles text — per-doc
    * distinct grams explode map-side into a broadcast hash join, and the
    * only exchanges carry (doc_id, count) pairs. n defaults to 5 to suit
    * the short synthetic corpus; production decontamination uses 8-13.
    */
  /** Per-doc DISTINCT n-gram md5 sets — the shared front of
    * [[decontaminate]] and [[contaminationReport]].
    */
  private def docGrams(d: DataFrame, n: Int): DataFrame =
    d.select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"),
        array_distinct(transform(sequence(lit(0), size(col("w")) - n),
          i => md5(concat_ws(" ", slice(col("w"), i + 1, lit(n)))))).as("g"))

  def decontaminate(docs: DataFrame, isEval: Column, n: Int = 5): DataFrame = {
    require(n >= 2, "gram length must be >= 2")
    def grams(d: DataFrame) = docGrams(d, n)
    val bench = grams(docs.filter(isEval))
      .select(explode(col("g")).as("gh")).distinct()
    val hits = grams(docs.filter(!isEval))
      .select(col("doc_id"), explode(col("g")).as("gh"))
      .join(broadcast(bench), "gh") // map-side; training grams never shuffle
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits")) // grams are distinct within a doc
    docs.filter(!isEval).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Contamination REACH report — the eval-side inverse of
    * [[decontaminate]]: that op answers "which training docs must go";
    * this one answers the question a benchmark owner asks — "which eval
    * documents leak into the training corpus, and how badly?" Per eval
    * doc: its distinct-gram count, how many TRAINING docs share at least
    * one n-gram with it, how many of ITS grams appear anywhere in
    * training, and the leaked fraction in integer ppm. A benchmark whose
    * items all sit at high leak_ppm is compromised as an eval regardless
    * of how aggressively training was scrubbed — this report is how you
    * find that out BEFORE trusting the number.
    *
    * Scale shape mirrors d12 reversed: the eval side is small, so its
    * exploded (gram, e_id) table BROADCASTS; training grams stream
    * map-side against it and only MATCHES (bounded by contamination
    * volume, not corpus size) reach the per-eval-doc aggregation —
    * countDistinct partial-aggregates (e_id, t_id)/(e_id, gh) pairs
    * before the exchange.
    */
  def contaminationReport(docs: DataFrame, isEval: Column, n: Int = 5): DataFrame = {
    require(n >= 2, "gram length must be >= 2")
    val evalG = docGrams(docs.filter(isEval), n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val evalExploded = evalG
      .select(col("doc_id").as("e_id"), explode(col("g")).as("gh"))
    val matches = docGrams(docs.filter(!isEval), n)
      .select(col("doc_id").as("t_id"), explode(col("g")).as("gh"))
      .join(broadcast(evalExploded), "gh")
    val agg = matches.groupBy("e_id").agg(
      countDistinct(col("t_id")).as("ntd"),
      countDistinct(col("gh")).as("nsg"))
    evalG.select(col("doc_id").as("e_id"), size(col("g")).as("n_grams"))
      .join(agg, Seq("e_id"), "left")
      .select(col("e_id").as("doc_id"), col("n_grams"),
        coalesce(col("ntd"), lit(0L)).as("n_train_docs"),
        coalesce(col("nsg"), lit(0L)).as("n_shared_grams"))
      .withColumn("leak_ppm", expr("(1000000 * n_shared_grams) div n_grams"))
  }

  /** Per-stratum keep rates (parts per million) for
    * [[stratifiedSample]] — a language-rebalancing profile (downsample
    * dominant English, keep more of the rarer strata). Production
    * supplies its own map; this one is part of the t8 oracle contract.
    */
  val DefaultSampleRatesPpm: Map[String, Int] = Map(
    "en" -> 500000, "de" -> 250000, "es" -> 250000, "fr" -> 125000, "zh" -> 125000)

  /** Deterministic stratified sampling — downsample each stratum (lang)
    * at its own rate using a hash-derived uniform: keep a row iff
    * h(doc_id) mod 1e6 < ratePpm(stratum). No RNG state, no global
    * count, no shuffle — a pure per-row filter (pushdown-eligible), and
    * the sample is bit-reproducible across runs, partitionings, and
    * engines (the property `df.sample()` deliberately does not have).
    */
  def stratifiedSample(docs: DataFrame,
      ratesPpm: Map[String, Int] = DefaultSampleRatesPpm,
      defaultPpm: Int = 50000): DataFrame = {
    require((defaultPpm +: ratesPpm.values.toSeq).forall(r => r >= 0 && r <= 1000000),
      "rates must be in [0, 1000000] ppm")
    val u = (h60(concat(lit("smp:"), col("doc_id").cast("string"))) % 1000000L).cast("int")
    val rate = coalesce(element_at(typedLit(ratesPpm), col("lang")), lit(defaultPpm))
    docs.select(col("doc_id"), col("lang"), u.as("u_ppm"), rate.as("rate_ppm"))
      .filter(col("u_ppm") < col("rate_ppm"))
  }

  /** Source mixing / epoch weighting — upsample high-value sources by a
    * FRACTIONAL weight w: every document replicates floor(w) times, plus
    * one more with probability frac(w) decided by a deterministic hash
    * (same reproducibility argument as [[stratifiedSample]]). The weight
    * here derives from the source name (src<k> -> 1.0 + (k mod 5)/2);
    * production supplies a weights table and broadcast-joins it. Pure
    * map-side flatMap (explode of a sequence) — rows multiply without a
    * shuffle, and the epoch tag lets downstream stages spread replicas.
    */
  def sourceMix(docs: DataFrame): DataFrame = {
    val k = regexp_extract(col("source"), "src([0-9]+)", 1).cast("int")
    val wx2 = k % 5 + 2 // 2*weight in {2..6} => weight in {1.0, 1.5, ..., 3.0}
    val u = h60(concat(lit("mix:"), col("doc_id").cast("string"))) % 1000000L
    val extra = when(wx2 % 2 === 1 && u < 500000L, 1).otherwise(0)
    docs.select(col("doc_id"), col("source"), (wx2 / lit(2)).cast("int") + extra as "n_epochs")
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(0), col("n_epochs") - 1)).as("epoch"))
  }

  /** Dataset-mixture planning table — the source-LEVEL budgeting step
    * BEFORE [[sourceMix]]'s per-document epoch expansion: given each
    * source's token supply and a target mixture weight, how many tokens
    * does a training run of budget B take from each source, at what
    * repeat factor, and where does the plan fall short? This is the
    * data-recipe arithmetic every LLM training report tabulates
    * (per-source tokens × epochs × weight): a source can only repeat so
    * many times before quality degrades, so targets are capped at
    * `maxEpochsPpm` and the uncovered remainder is reported as
    * `deficit_tokens` — surfaced, not silently redistributed (a
    * water-filling pass would iterate; the planner's job is to make the
    * shortfall visible so the recipe owner rebalances weights).
    *
    * All integer arithmetic in ppm (the e23 discipline): weight_ppm =
    * wu*1e6 div total_wu, target = B*wu div total_wu, epochs_ppm =
    * min(cap, target*1e6 div supply), planned = supply*epochs_ppm div
    * 1e6 — bit-reproducible, oracle-mirrored. Budget B = 3/2 × total
    * supply here; production passes it in.
    *
    * Scale shape: ONE corpus pass (map-side-combined per-source token
    * sum — the only thing that sees data volume); everything after runs
    * on the ~#sources-row table, with the two scalar totals joined in
    * as a broadcast-degenerate single-row cross join, never collected.
    */
  /** Rendezvous (highest-random-weight) sharding — the corpus-
    * management primitive for GROWING a sharded corpus: assign each
    * doc to argmax over shards of h60("rv:" + shard + ":" + doc_id).
    * When the shard count goes n -> n+1, a doc moves ONLY if the new
    * shard's score beats its current max — expected 1/(n+1) of the
    * corpus — while mod-hashing (doc_id % n) moves ~n/(n+1) of it:
    * at 100 TB that is the difference between copying ~11 TB and
    * copying ~89 TB on every capacity bump. Emits BOTH assignments
    * plus the mod-hash baseline columns so the migration cost is a
    * one-line aggregate downstream, and `moved`/`mod_moved` flags
    * make the comparison self-evidencing. Deterministic: scores are
    * keyed md5, the repo's reshard-stable convention; argmax
    * tie-breaks to the higher shard id via struct ordering (md5 ties
    * are theoretical). Pure per-row map over n+m tiny hash exprs,
    * zero exchange — rides the scan.
    */
  def rendezvousShards(docs: DataFrame, nBefore: Int = 8,
                       nAfter: Int = 9): DataFrame = {
    require(nBefore >= 1 && nBefore <= 64 && nAfter >= 1 && nAfter <= 64,
      "shard counts must be in [1, 64]")
    def shardOf(n: Int): Column =
      if (n == 1) lit(0)
      else greatest((0 until n).map(sh =>
        struct(h60(concat(lit(s"rv:$sh:"), col("doc_id"))).as("h"),
          lit(sh).as("s"))): _*).getField("s")
    docs.select(col("doc_id"),
        shardOf(nBefore).as("shard_before"),
        shardOf(nAfter).as("shard_after"),
        (col("doc_id") % nBefore).cast("int").as("mod_before"),
        (col("doc_id") % nAfter).cast("int").as("mod_after"))
      .withColumn("moved", col("shard_before") =!= col("shard_after"))
      .withColumn("mod_moved", col("mod_before") =!= col("mod_after"))
  }

  def mixturePlan(docs: DataFrame, maxEpochsPpm: Long = 2000000L): DataFrame = {
    val supply = docs.filter(length(col("text")) >= 1)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(size(words(col("text")))).as("supply_tokens"))
      .withColumn("wu",
        (regexp_extract(col("source"), "src([0-9]+)", 1).cast("long") % 7 + 1))
    // LONG div throughout — `/` on longs is a DOUBLE divide in Spark,
    // exact only below 2^53; div keeps the plan bit-exact up to the
    // documented bound (~9e12 tokens in one source before x*1e6
    // overflows; swap to DECIMAL beyond that)
    val totals = supply.agg(sum("wu").as("total_wu"),
      sum("supply_tokens").as("sum_supply"))
      .withColumn("budget_tokens", expr("sum_supply * 3 div 2"))
    supply.crossJoin(totals)
      .withColumn("weight_ppm", expr("wu * 1000000 div total_wu"))
      .withColumn("target_tokens", expr("budget_tokens * wu div total_wu"))
      .withColumn("epochs_ppm",
        least(lit(maxEpochsPpm), expr("target_tokens * 1000000 div supply_tokens")))
      .withColumn("planned_tokens", expr("supply_tokens * epochs_ppm div 1000000"))
      .withColumn("deficit_tokens", col("target_tokens") - col("planned_tokens"))
      .select("source", "n_docs", "supply_tokens", "weight_ppm", "target_tokens",
        "epochs_ppm", "planned_tokens", "deficit_tokens")
  }

  /** Per-source document cap — keep at most `maxPerSource` documents per
    * source, preferring longer documents (the RefinedWeb/C4-style
    * "limit docs per domain" anti-SEO-farm curation step). Ranking is
    * fully deterministic: (n_chars DESC, doc_id ASC), so the kept set is
    * a pure function of the data.
    *
    * Scale shape — the skew problem with a plain
    * `row_number() OVER (PARTITION BY source ...)` is that one mega-host
    * (a link farm with 100 M pages) lands in ONE task. So the top-N is
    * SALTED two-stage: stage 1 ranks within (source, doc_id mod salt) —
    * the hot source spreads over `salt` tasks — and keeps each group's
    * top `maxPerSource`; stage 2 re-ranks the survivors per source
    * (input now <= salt x maxPerSource rows per source, bounded no
    * matter how hot the host) and keeps the true top `maxPerSource`.
    * Any global top-N row is top-N within its salt group, so the result
    * is salt-INDEPENDENT (pinned by spec); shuffle 1 carries 3 small
    * columns, shuffle 2 is capped rows only.
    */
  def sourceCap(docs: DataFrame, maxPerSource: Int = 10, salt: Int = 8): DataFrame = {
    require(maxPerSource >= 1, "maxPerSource must be >= 1")
    require(salt >= 1, "salt must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val order = Seq(col("n_chars").desc, col("doc_id").asc)
    val local = Window.partitionBy(col("source"), pmod(col("doc_id"), lit(salt.toLong)))
      .orderBy(order: _*)
    val global = Window.partitionBy(col("source")).orderBy(order: _*)
    docs.select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("lrk", row_number().over(local))
      .filter(col("lrk") <= maxPerSource)
      .drop("lrk")
      .withColumn("rk", row_number().over(global))
      .filter(col("rk") <= maxPerSource)
  }

  /** Corpus-level vocabulary statistics — the one-row monitoring signal
    * a pipeline run publishes next to its throughput metrics: token
    * count, vocabulary size, hapax count (the singleton tail whose
    * share spikes when OCR noise or mojibake leaks in), and the top
    * word (which should be a stopword — anything else flags template
    * spam). All integer/string outputs, bit-exact by construction.
    *
    * Scale shape: one map-combined (word, count) aggregation, then a
    * single-row reduce over the word table (partial aggregation makes
    * the final single-partition step read one row per upstream task);
    * the doc count is a second tiny scalar agg cross-joined on.
    */
  def corpusStats(docs: DataFrame): DataFrame = {
    val d = docs.filter(length(col("text")) >= 1)
    val nd = d.select(count(lit(1)).as("n_docs"))
    val wc = d.select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
    val agg = wc.select(
        sum("c").as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax_count"),
        min(struct((-col("c")).as("nc"), col("word").as("w"))).as("t"))
      .select(col("n_tokens"), col("vocab_size"), col("hapax_count"),
        col("t.w").as("top_word"), (-col("t.nc")).as("top_word_count"))
    nd.crossJoin(agg)
  }

  /** Per-document TF-IDF keyword extraction — the classic topical-term
    * signal (doc tagging, index keys, topic-drift monitoring). IDF is
    * the LINEAR variant in integer arithmetic — idf = floor(1e6 * N /
    * df), score = tf * idf — because ln() is transcendental and the
    * repo's oracle contract is bit-exact parity (the t12 rule: ranking
    * behavior matches the log variant for the top of the list, where
    * df << N dominates either way; swap in ln at deployment if the
    * absolute scale matters).
    *
    * Scale shape: the (doc, word, tf) table partial-aggregates map-side
    * before its shuffle; df is a second map-combined agg over it; the
    * scoring join is word-keyed carrying (doc_id, word, tf) + (word,
    * df) — key-only traffic. The per-doc top-k window partitions by
    * doc_id over per-doc vocab (bounded by document length, never by
    * corpus size).
    */
  def tfidfKeywords(docs: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val tf = docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val n = tf.select(countDistinct(col("doc_id"))).head().getLong(0) // one scalar action
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "word")
      .select(col("doc_id"), col("word"), col("tf"),
        (col("tf") * expr(s"${1000000L * n} div df")).as("score"))
    scored.withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("word"))))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk").cast("int").as("rk"), col("word"),
        col("tf"), col("score"))
  }

  /** BM25 retrieval over the corpus for a fixed query-term set — the
    * serving-side consumer of [[invertedIndex]]'s statistics (search over
    * the crawl, contamination triage, seed selection for targeted
    * re-crawls): score every matching document with the Okapi BM25
    * formula at k1 = 6/5, b = 3/4 and return the global top `k`.
    *
    * Arithmetic is EXACT-INTEGER throughout (the t16/t12 house rule: no
    * log, no float — oracle-reproducible bit-for-bit). With avgdl
    * `AV = total_tokens div n_docs` and per-(doc,term) count tf, the
    * BM25 denominator tf + k1*(1 - b + b*dl/AV) becomes the integer
    * rational (20*tf*AV + 6*AV + 18*dl) / (20*AV), so each term
    * contributes
    *   idf_pm * (44*tf*AV) div (20*tf*AV + 6*AV + 18*dl)
    * with the linear integer idf_pm = (1000*(n - df + 1)) div (df + 1)
    * (Robertson-shaped: rare terms -> ~1000*n/df, ubiquitous terms -> ~0;
    * strictly positive so scores are monotone in tf). Long-overflow
    * bound: idf_pm <= 1000*(n+1) and 44*tf*AV <= 44*dl*AV, so the product
    * stays under 2^63 for any corpus with n * dl * AV < 2*10^14 — beyond
    * that, scale idf to per-cent. Ties break by doc_id ascending.
    *
    * Scale shape: the query terms are a LITERAL ARRAY, so per-doc tf is
    * computed MAP-SIDE (`size(filter(w, _ == term))` per term — the
    * corpus text never shuffles); only (doc_id, term, tf, dl) rows for
    * tf >= 1 survive, PLUS one sentinel row (term = "") per doc that
    * carries the doc's existence and length into the same persisted
    * frame — so the corpus scalars (n, avgdl) ride the hits pass as a
    * cache-read aggregate instead of forcing a SECOND full corpus scan
    * (the plan has exactly one FileScan; pinned in PlanCheckSpec). df
    * is a |terms|-row aggregate joined back BROADCAST; the global
    * top-k is `orderBy.limit(k)` = TakeOrderedAndProject
    * (per-partition k-heaps + driver merge — never a full sort).
    */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int = 10): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.nonEmpty),
      "terms must be nonempty strings")
    require(k >= 1, "k must be >= 1")
    val base = docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("dl"))
    // "" cannot collide with a query term (required nonempty) or a real
    // token (words() never emits empty strings)
    val termStructs = terms.map(t =>
      struct(lit(t).as("term"),
        size(filter(col("w"), x => x === lit(t))).cast("long").as("tf"))) :+
      struct(lit("").as("term"), lit(1L).as("tf"))
    val ex = base
      .select(col("doc_id"), col("dl"), explode(array(termStructs: _*)).as("h"))
      .select(col("doc_id"), col("dl"), col("h.term").as("term"), col("h.tf").as("tf"))
      .filter(col("tf") >= 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val scalars = ex.filter(col("term") === "")
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("tot")).head()
    val n = scalars.getLong(0)
    val av = math.max(1L, if (n > 0) scalars.getLong(1) / n else 1L)
    val hits = ex.filter(col("term") =!= "")
    val dfT = hits.groupBy("term").agg(count(lit(1)).as("df"))
    // one expr so the arithmetic is visibly ALL integer `div` — a
    // Column `/` here would silently flip to IEEE double division
    val contrib = hits.join(broadcast(dfT), "term")
      .select(col("doc_id"), col("dl"),
        expr(s"((1000L * (${n}L - df + 1)) div (df + 1)) * (44L * tf * ${av}L) " +
          s"div (20L * tf * ${av}L + ${6 * av}L + 18L * dl)").as("contrib"))
    val out = contrib.groupBy("doc_id")
      .agg(max(col("dl")).as("n_tokens"), sum(col("contrib")).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
    out
  }

  /** Vocabulary coverage curve — the tokenizer-design statistic behind
    * every vocab-size decision (how many word types does a vocabulary
    * need to cover X per-mille of corpus TOKENS?): for each requested
    * per-mille point, the smallest frequency-ranked vocabulary whose
    * summed counts reach ceil(pm * total / 1000), plus the tokens it
    * actually covers.
    *
    * Scale shape — the t57 histogram trick applied to the FREQUENCY
    * axis: the corpus reduces to (word, count), then to the COUNT-VALUE
    * histogram (count c, n_words at c, tokens c*n) — bounded by DISTINCT
    * count values (O(sqrt(total)) under any Zipf-ish law: counts above
    * sqrt(T) number fewer than sqrt(T), and distinct values below
    * sqrt(T) number at most sqrt(T)), so the driver prefix scan reads
    * thousands of rows where the word table would be billions. The
    * within-class cut is exact WITHOUT any word ordering: every word of
    * a count class contributes the same c, so needing m more words of
    * the boundary class is m = ceil((target - cum) / c) regardless of
    * which m — which is also why the oracle's word-level ranked cumsum
    * (ORDER BY count DESC, word) lands on identical numbers.
    */
  def vocabCoverage(docs: DataFrame,
      permilles: Seq[Int] = Seq(500, 900, 990)): DataFrame = {
    require(permilles.nonEmpty && permilles.forall(p => p >= 1 && p <= 1000),
      "permilles must be in [1, 1000]")
    val spark = docs.sparkSession
    val hist = docs.filter(length(col("text")) >= 1)
      .select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
      .groupBy("c").agg(count(lit(1)).as("nw"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(-_._1)
    val total = hist.map { case (c, nw) => c * nw }.sum
    import spark.implicits._
    if (total == 0)
      return Seq.empty[(Int, Long, Long, Long)]
        .toDF("permille", "target_tokens", "vocab_needed", "tokens_covered")
    val rows = permilles.sorted.map { pm =>
      val target = (pm.toLong * total + 999L) / 1000L
      var cumTok = 0L
      var cumWords = 0L
      var out: (Int, Long, Long, Long) = null
      hist.foreach { case (c, nw) =>
        if (out == null) {
          if (cumTok + c * nw >= target) {
            val m = (target - cumTok + c - 1L) / c
            out = (pm, target, cumWords + m, cumTok + m * c)
          } else { cumTok += c * nw; cumWords += nw }
        }
      }
      out
    }
    rows.toDF("permille", "target_tokens", "vocab_needed", "tokens_covered")
  }

  /** Exact corpus length percentiles WITHOUT a global sort — the
    * distribution summary every curation decision reads (truncation
    * budgets, the t14 length gates, packing seqLen choice): for each
    * requested per-mille point, the smallest token count v whose
    * cumulative document count reaches ceil(pm * n / 1000).
    *
    * Scale shape: the corpus reduces to a VALUE HISTOGRAM — one
    * map-side-combined groupBy(n_tokens) shuffle carrying (length,
    * count) pairs, bounded by the DISTINCT LENGTH COUNT (metadata-plane:
    * <= max document length, independent of corpus size — a 10^12-doc
    * corpus with docs under 10^6 tokens collects <= 10^6 rows). The
    * histogram's exclusive prefix scan runs driver-side (the t31
    * convention), so no unpartitioned window ever touches anything.
    * Exactness: rank arithmetic is pure integers — target_rank =
    * (pm*n + 999) div 1000 — and the answer is a real data value, not an
    * interpolation (type-1/`quantile_disc` semantics).
    */
  def lengthPercentiles(docs: DataFrame,
      permilles: Seq[Int] = Seq(500, 900, 990, 999)): DataFrame = {
    require(permilles.nonEmpty && permilles.forall(p => p >= 1 && p <= 1000),
      "permilles must be in [1, 1000]")
    val spark = docs.sparkSession
    val hist = docs.filter(length(col("text")) >= 1)
      .select(size(words(col("text"))).cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val n = hist.map(_._2).sum
    import spark.implicits._
    if (n == 0) return Seq.empty[(Int, Long, Long)].toDF("permille", "target_rank", "value")
    val rows = permilles.sorted.map { pm =>
      val target = (pm.toLong * n + 999L) / 1000L
      var acc = 0L
      var v = hist.last._1
      var found = false
      hist.foreach { case (value, c) =>
        if (!found) { acc += c; if (acc >= target) { v = value; found = true } }
      }
      (pm, target, v)
    }
    rows.toDF("permille", "target_rank", "value")
  }

  /** Corpus-level frequent n-gram mining — the CCNet/C4-style
    * boilerplate-discovery signal: the globally most frequent word
    * n-grams in a web corpus are almost always site chrome ("all rights
    * reserved", cookie banners) and become strip/filter rules for the
    * next pipeline run.
    *
    * Scale shape: the n-gram explode multiplies rows by ~|words|, but
    * the first groupBy partial-aggregates inside each task BEFORE its
    * shuffle (map-side combine), so shuffle 1 carries one row per
    * distinct n-gram per task, never per occurrence. The global top-K
    * never sorts the corpus: `minCount` prunes the (corpus-sized) long
    * tail of singletons, a local row_number within hash-salt groups
    * bounds survivors to salt*topK rows, and only that tiny set crosses
    * the final single-partition window. Salt-INDEPENDENT by the t13
    * argument (any global top-K row is top-K within its salt group).
    * At web scale the production upgrade is a count-min pre-sketch in
    * place of minCount; the two-stage shape stays the same.
    */
  def frequentNgrams(docs: DataFrame, n: Int = 3, topK: Int = 20,
                     minCount: Long = 2, salt: Int = 8): DataFrame = {
    require(n >= 1, "n must be >= 1")
    require(topK >= 1 && salt >= 1, "topK and salt must be >= 1")
    val counts = ngramStream(docs, n)
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    topKByCount(counts, topK, salt)
  }

  /** The word n-gram stream (one row per occurrence) — shared by
    * [[frequentNgrams]] and [[cmsHeavyHitters]].
    */
  private def ngramStream(docs: DataFrame, n: Int): DataFrame =
    docs.filter(length(col("text")) >= 1)
      .select(words(col("text")).as("w"))
      .filter(size(col("w")) >= n)
      .select(explode(expr(
        s"transform(sequence(0, size(w) - $n), i -> array_join(slice(w, i + 1, $n), ' '))"))
        .as("ngram"))

  /** Salted two-stage global top-K over an (ngram, cnt) table — salt-
    * INDEPENDENT by the t13 argument (any global top-K row is top-K
    * within its salt group), so no global sort ever sees the full
    * distinct-ngram set. Shared tail of [[frequentNgrams]] and
    * [[cmsHeavyHitters]].
    */
  private def topKByCount(counts: DataFrame, topK: Int, salt: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = Seq(col("cnt").desc, col("ngram").asc)
    val local = Window.partitionBy(pmod(xxhash64(col("ngram")), lit(salt.toLong)))
      .orderBy(order: _*)
    val global = Window.orderBy(order: _*)
    counts
      .withColumn("lrk", row_number().over(local)).filter(col("lrk") <= topK).drop("lrk")
      .withColumn("rk", row_number().over(global)).filter(col("rk") <= topK)
  }

  /** Count-min-sketch-pruned heavy hitters — the production upgrade
    * promised at [[frequentNgrams]]: at 10^12 documents the long tail of
    * DISTINCT n-grams is itself corpus-scale, and even a map-side-combined
    * groupBy must shuffle one row per distinct n-gram per task. The CMS
    * pre-pass removes that: a `depth` x `width` counter matrix is built in
    * one MAP-ONLY pass (per-partition sketches, element-wise treeReduce
    * merge — counters, not n-grams, cross the wire: depth*width*8 bytes
    * per partition regardless of corpus size), broadcasts back, and only
    * n-grams whose sketch estimate reaches `minCount` enter the exact
    * count — the shuffle now carries candidates (true heavy hitters + the
    * sketch's false-positive fraction), not the distinct tail.
    *
    * The output is PROVABLY identical to the plain formulation: CMS
    * estimates only ever OVER-count (each counter sums a superset of the
    * n-gram's occurrences), so `estimate >= true count` and no n-gram
    * with true count >= minCount is ever pruned; false positives are
    * removed by the exact count filter that follows. The oracle is
    * therefore the same algorithm-independent SQL as t15's, and a
    * deliberately SATURATED sketch (width 1: every estimate = stream
    * length) still yields exact output — pinned by a test. Sketch hashes
    * are Murmur3 with per-row seeds: they never leave the JVM, so no
    * md5-parity constraint applies (and at scale you want the cheap hash).
    */
  def cmsHeavyHitters(docs: DataFrame, n: Int = 3, topK: Int = 20,
                      minCount: Long = 2, depth: Int = 4, width: Int = 8192,
                      salt: Int = 8): DataFrame = {
    require(n >= 1, "n must be >= 1")
    require(topK >= 1 && salt >= 1, "topK and salt must be >= 1")
    require(depth >= 1 && width >= 1, "depth and width must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    def cell(row: Int, s: String): Int =
      math.floorMod(scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c + row), width)
    val grams = ngramStream(docs, n)
    // pass 1 (map-only): per-partition sketches, element-wise merge.
    // treeAggregate so a 10k-partition job merges counters in a tree, not
    // serially on the driver.
    val sketch: Array[Long] = grams.as[String].rdd.treeAggregate(
      new Array[Long](depth * width))(
      seqOp = (m, g) => {
        var r = 0
        while (r < depth) { m(r * width + cell(r, g)) += 1L; r += 1 }
        m
      },
      combOp = (a, b) => {
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      })
    val bc = spark.sparkContext.broadcast(sketch)
    // pass 2: sketch-gated exact count — only candidates shuffle
    val candidates = grams.as[String].mapPartitions { it =>
      val m = bc.value
      it.filter { g =>
        var est = Long.MaxValue
        var r = 0
        while (r < depth) {
          val v = m(r * width + cell(r, g)); if (v < est) est = v; r += 1
        }
        est >= minCount
      }
    }.toDF("ngram")
    val counts = candidates.groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount) // drops the sketch's false positives
    topKByCount(counts, topK, salt)
  }

  /** Inverted-index construction with BOUNDED posting lists — the IR-side
    * operator a web corpus feeds (search over the crawl, contamination
    * lookups, nearest-neighbor seeds): per word, the exact document
    * frequency plus a "champion list" of the first `cap` doc_ids.
    *
    * The bound is the scale piece: a naive
    * `groupBy(word).agg(collect_list(doc_id))` holds one unbounded buffer
    * per word — for a stopword at 10^12 docs that is the corpus. Instead
    * the min-`cap` doc_ids come from the custom bounded aggregate
    * [[graft.functions.MinKLongs min_k_longs]] (a
    * TypedImperativeAggregate): each map task combines its postings into
    * one `cap`-element heap per word BEFORE the shuffle, the exchange
    * carries one serialized heap per (task, word), and final merge is
    * order-independent — O(cap) state per group regardless of df, one
    * shuffle, no windows, no salt. `df` and the champion list come out
    * of the SAME aggregation (both map-side combined).
    */
  def invertedIndex(docs: DataFrame, cap: Int = 32): DataFrame = {
    require(cap >= 1, "cap must be >= 1")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .distinct() // one posting per (doc, word)
      .groupBy("word")
      .agg(count(lit(1)).as("df"),
        expr(s"min_k_longs(doc_id, $cap)").as("postings"))
  }

  /** Sequence packing — assign documents to fixed-length training
    * sequences of `seqLen` tokens by concatenation order. Packing is
    * SHARD-LOCAL (shard = doc_id mod nShards): at scale the shard is the
    * repartition key, each task packs its shard with an O(1)-state
    * running sum, and no global total order (a full sort of the corpus)
    * is ever needed. Within a shard, a document starting at stream
    * offset b occupies sequences floor(b/seqLen)..floor((b+tokens-1)/
    * seqLen). One shuffle (the window's partitionBy) carrying only
    * (doc_id, shard, n_tokens); integer `div` arithmetic throughout so
    * results are exact at any stream length.
    */
  def sequencePack(docs: DataFrame, seqLen: Int = 2048, nShards: Int = 16): DataFrame = {
    require(seqLen > 0 && nShards > 0, "seqLen and nShards must be positive")
    val byShard = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"), (col("doc_id") % nShards).cast("int").as("shard"),
        size(words(col("text"))).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(byShard))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"(cum - n_tokens) div $seqLen").as("seq_id"),
        ((col("cum") - col("n_tokens")) % seqLen).cast("int").as("seq_offset"),
        expr(s"cast((cum - 1) div $seqLen - (cum - n_tokens) div $seqLen + 1 as int)")
          .as("n_seqs"))
  }

  /** Token-budget shard assignment by GLOBAL running token count — the
    * writer-side step that turns a curated corpus into ~equal-token
    * training shards: documents in deterministic doc_id order, each
    * assigned the shard its first token lands in (`token_start div
    * budget`). Unlike [[sequencePack]] (whose shards are hash-assigned
    * up front, so its windows are naturally partitioned), this needs an
    * exact GLOBAL prefix sum — and `Window.orderBy` with no partition is
    * the classic scale-killer (one task sorts the corpus). This is the
    * distributed two-phase prefix-sum instead:
    *
    *   1. range-bucket on `doc_id div bucketWidth` (order-preserving),
    *      aggregate per-bucket token totals — one map-side-combined
    *      shuffle of (bucket, long);
    *   2. collect the per-bucket totals (numBuckets rows — the ONE
    *      deliberate driver action, ~KBs even at 10^12 docs with wide
    *      buckets), exclusive-scan them driver-side, inline the offsets
    *      as a map literal (the [[annLshBuckets]] broadcast pattern);
    *   3. per-bucket window cumsum + the bucket's offset = the exact
    *      global running total, every window partition bounded by
    *      bucketWidth.
    *
    * Output per doc: n_tokens, global token_start, shard. The oracle is
    * the single unpartitioned window cumsum — exactly what this shape
    * replaces.
    *
    * `bucketWidth = 0` (the default) DERIVES the width from a cheap
    * column-pruned `max(doc_id)` scan so that numBuckets <= ~10^5
    * regardless of corpus size: at 10^12 docs the derived width is
    * ~10^7 and the driver collect stays ~10^5 rows / low MBs, where a
    * fixed width of 64 would collect ~10^10 rows and inline an
    * offsets-map of the same size into the plan. Results are
    * width-invariant (pinned by spec), so the derivation only moves
    * cost, never values. An explicit positive width is honored as-is.
    */
  def tokenShards(docs: DataFrame, budget: Long = 4096L,
      bucketWidth: Long = 0L): DataFrame = {
    require(budget > 0 && bucketWidth >= 0,
      "budget must be positive, bucketWidth nonnegative (0 = derive)")
    val width: Long =
      if (bucketWidth > 0) bucketWidth
      else {
        // cast INSIDE the aggregate: a caller's doc_id may be IntegerType
        // (the explicit-width path tolerates it via SQL `div`), so read
        // the scalar as long rather than getLong-ing a boxed Int
        val maxId = docs.agg(max(col("doc_id")).cast("long")).collect()(0) match {
          case r if r.isNullAt(0) => 0L
          case r => math.max(r.getLong(0), 0L)
        }
        math.max(64L, maxId / 100000L + 1L)
      }
    val base = docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"), expr(s"doc_id div $width").as("bucket"),
        size(words(col("text"))).cast("long").as("n_tokens"))
    val totals: Array[(Long, Long)] = base.groupBy("bucket")
      .agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val exclusive: Map[Long, Long] = {
      var acc = 0L
      totals.map { case (b, t) => val o = (b, acc); acc += t; o }.toMap
    }
    val offMap = typedLit(exclusive)
    val byBucket = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("cum_local", sum(col("n_tokens")).over(byBucket))
      .select(col("doc_id"), col("n_tokens"),
        (element_at(offMap, col("bucket")) + col("cum_local") - col("n_tokens"))
          .as("token_start"))
      .withColumn("shard", expr(s"token_start div $budget"))
  }

  /** Per-shard manifest receipts — the reproducibility artifact written
    * beside every released training shard (doc count, token total, id
    * range, content checksum): a consumer re-deriving the shard from
    * the source corpus must land on the SAME receipt, or the release is
    * not the corpus it claims to be. The checksum is a bit_xor of
    * per-doc 60-bit hashes — commutative and overflow-free, so it is
    * independent of partitioning AND of row order within the shard
    * (exactly the properties a distributed re-derivation needs; a sum
    * would overflow Long at corpus scale under ANSI mode, a
    * concatenation hash would impose an ordering).
    *
    * Scale shape: [[tokenShards]]' two-phase prefix sum (its one
    * numBuckets-row driver action), then ONE map-side-combined rollup
    * on the shard key.
    */
  def shardManifest(docs: DataFrame, budget: Long = 4096L): DataFrame =
    tokenShards(docs, budget)
      .withColumn("hh", h60(concat(lit("sm:"), col("doc_id").cast("string"))))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"),
        expr("bit_xor(hh)").as("checksum"))

  /** Unigram-LM familiarity scoring — the shape of the CCNet/KenLM
    * perplexity filter: score each document by how typical its tokens
    * are of the corpus. Phase 1 builds the corpus unigram table (one
    * map-side-combined shuffle of (word, count)) and keeps the top
    * `vocabSize` words — a global top-k (`TakeOrderedAndProject`), ties
    * broken by word so the vocabulary is deterministic. Phase 2 inlines
    * that small vocab as a map literal (the driver-side broadcast
    * pattern of [[annLshBuckets]]) and scores every document map-side —
    * ZERO shuffle of tokens: per doc, `n_oov` (tokens outside the
    * vocab), `sum_freq` (summed corpus counts), and `familiarity` =
    * sum_freq / n_tokens. Deliberately transcendental-free (counts and
    * one IEEE division, no log) so the oracle reproduces it bit-for-bit;
    * a real perplexity filter would apply log-probs to the same plumbing.
    */
  def unigramFamiliarity(docs: DataFrame, vocabSize: Int = 256): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val vocab: Map[String, Long] = docs.filter(length(col("text")) >= 1)
      .select(explode(words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word"))
      .limit(vocabSize)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val m = typedLit(vocab)
    docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), size(col("w")).as("n_tokens"),
        aggregate(col("w"), lit(0L),
          (acc, wd) => acc + when(element_at(m, wd).isNull, 1L).otherwise(0L))
          .as("n_oov"),
        aggregate(col("w"), lit(0L),
          (acc, wd) => acc + coalesce(element_at(m, wd), lit(0L)))
          .as("sum_freq"))
      .withColumn("familiarity", col("sum_freq").cast("double") / col("n_tokens"))
  }

  /** Mojibake marker substrings for [[mojibakeScore]] — the character
    * sequences UTF-8 text grows when it is decoded as latin-1/cp1252
    * and re-encoded (the double-encoding accident): `Ã`/`Â` are the
    * lead bytes of 2-byte UTF-8 sequences read as latin-1 (`é` → `Ã©`),
    * `â€` is the C2-prefix family of smart punctuation (`’` → `â€™`),
    * `ï¿½` is U+FFFD itself double-encoded, and U+FFFD is the decoder's
    * own substitution marker. Plain metachar-free substrings, all BMP
    * (the scriptMix length contract), matched case-SENSITIVELY — the
    * uppercase forms are exactly what damage produces, and lowercasing
    * would manufacture false positives from legitimate `ã`.
    */
  val MojibakeMarkers: Seq[String] = Seq("Ã", "â€", "Â", "ï¿½", "�")

  /** Encoding-damage (mojibake) scoring — the post-decode complement of
    * the m5 byte-level charset sniff: m5 decides how to DECODE bytes,
    * this detects text that was already decoded WRONGLY somewhere
    * upstream (double-encoded UTF-8, lost replacement characters) — the
    * damage CCNet-style pipelines filter because it survives every
    * other quality signal (the words are still words; they are just
    * wearing `Ã©` where `é` belongs). Per doc: n_chars, marker hit
    * count (non-overlapping split-count per marker, summed — the e50
    * counting convention), moji_ppm = 1e6 * hits div n_chars (NULL on
    * the empty doc — no evidence, never a clean 0), and the boolean
    * `damaged` verdict at `damagedPpm` (default 0.5 % of characters —
    * real damage multiplies markers per affected word, so the rate
    * separates cleanly; one stray `Ã` in 10 k chars does not condemn).
    *
    * Scale shape: pure per-row codegen'd map, zero exchange — rides the
    * scan at 100 TB like e50/t41.
    */
  def mojibakeScore(docs: DataFrame, damagedPpm: Int = 5000): DataFrame = {
    require(damagedPpm >= 1, "damagedPpm must be >= 1")
    val hits = MojibakeMarkers.map(m =>
      size(split(col("text"), java.util.regex.Pattern.quote(m), -1)) - lit(1))
      .reduce(_ + _)
    docs.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        hits.cast("long").as("moji_hits"))
      .withColumn("moji_ppm",
        when(col("n_chars") > 0, expr("1000000 * moji_hits div n_chars")))
      .withColumn("damaged",
        coalesce(col("moji_ppm") >= damagedPpm, lit(false)))
  }

  /** Unicode script mix — the curation signal [[langId]] structurally
    * cannot give: stopword lists only separate languages they KNOW, so
    * a CJK or Cyrillic page scores zero on every list and falls to the
    * argmax default; counting script-block characters classifies it in
    * one map-only pass, and the per-script ppm columns expose
    * mixed-script spam (Latin text stuffed with CJK keywords, the
    * classic SEO pattern) that no word-level signal sees. Five
    * single-char classes (Basic Latin letters, CJK Unified, Cyrillic,
    * Arabic, Greek) counted with codegen'd regexp_extract_all; dominant
    * script by the t1 fixed-precedence argmax CASE. BMP-only contract
    * (like frameSample): Spark's length() counts UTF-16 units, DuckDB's
    * counts code points — equal exactly on the BMP.
    */
  def scriptMix(docs: DataFrame): DataFrame = {
    def cnt(re: String) =
      size(regexp_extract_all(col("text"), lit(re), lit(0)))
    val base = docs.filter(length(col("text")) >= 1).select(
      col("doc_id"),
      length(col("text")).cast("int").as("n_chars"),
      cnt("[A-Za-z]").as("latin"),
      cnt("[\\u4e00-\\u9fff]").as("cjk"),
      cnt("[\\u0400-\\u04ff]").as("cyrillic"),
      cnt("[\\u0600-\\u06ff]").as("arabic"),
      cnt("[\\u0370-\\u03ff]").as("greek"))
    base.select(col("doc_id"), col("n_chars"),
      expr("(1000000 * cast(latin as bigint)) div n_chars").as("latin_ppm"),
      expr("(1000000 * cast(cjk as bigint)) div n_chars").as("cjk_ppm"),
      expr("(1000000 * cast(cyrillic as bigint)) div n_chars").as("cyrillic_ppm"),
      expr("(1000000 * cast(arabic as bigint)) div n_chars").as("arabic_ppm"),
      when(col("latin") >= col("cjk") && col("latin") >= col("cyrillic") &&
          col("latin") >= col("arabic") && col("latin") >= col("greek"), "latin")
        .when(col("cjk") >= col("cyrillic") && col("cjk") >= col("arabic") &&
          col("cjk") >= col("greek"), "cjk")
        .when(col("cyrillic") >= col("arabic") && col("cyrillic") >= col("greek"), "cyrillic")
        .when(col("arabic") >= col("greek"), "arabic")
        .otherwise("greek").as("dominant"))
  }

  /** Bigram LM familiarity — the conditional upgrade of
    * [[unigramFamiliarity]], and deliberately the OTHER scale pattern:
    * t12's 256-word vocab broadcasts as a `typedLit` map, but a bigram
    * model is corpus-vocab-squared-sized, so scoring must be a HASH JOIN
    * against the model table, never a broadcast — the shape every
    * CCNet-style KenLM filter has at production scale (the model is a
    * table you join, pruned to bound its size).
    *
    * Training is one corpus pass: bigram counts c(l,r) (map-side
    * combined), history counts c(l) = Σ_r c(l,r) derived from the bigram
    * table itself (so probabilities are true conditionals — they sum to
    * 1 over r), conditional ppm = 1000000·c(l,r) div c(l) in integer
    * arithmetic (transcendental-free: mean conditional ppm ranks docs
    * the same way mean log-prob does for filtering purposes, without ln
    * in the oracle contract). The model prunes to c(l,r) >= minCount —
    * real LM pruning, and what bounds the table by repeated-bigram mass
    * instead of the distinct-bigram tail; pruned/unseen bigrams score 0
    * and are COUNTED (`n_oov`, itself a quality signal: high-oov docs
    * are the unfamiliar ones). Scoring explodes doc bigrams and joins
    * the model on the (l, r) word pair — the shuffle carries two short
    * words + a doc_id per bigram, never text (at 10^12 docs, key by
    * xxhash64 of the pair; one constant). Docs with < 2 words have no
    * bigram evidence and are excluded, like t12 excludes empty docs.
    */
  def bigramFamiliarity(docs: DataFrame, minCount: Long = 2): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    val toks = docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
    val pairs = toks.select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("w")) - 2),
          i => struct(element_at(col("w"), i + 1).as("l"),
            element_at(col("w"), i + 2).as("r")))).as("p"))
      .select(col("doc_id"), col("p.l").as("l"), col("p.r").as("r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val clr = pairs.groupBy("l", "r").agg(count(lit(1)).as("c_lr"))
    val cl = clr.groupBy("l").agg(sum("c_lr").as("c_l"))
    val model = clr.filter(col("c_lr") >= minCount).join(cl, "l")
      .select(col("l"), col("r"), expr("(1000000 * c_lr) div c_l").as("ppm"))
    pairs.join(model, Seq("l", "r"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        count(when(col("ppm").isNull, 1)).as("n_oov"),
        sum(coalesce(col("ppm"), lit(0L))).as("sum_ppm"))
      .withColumn("familiarity_ppm", expr("sum_ppm div n_bigrams"))
  }

  /** PMI collocation mining — the phrase-vocabulary induction pass of
    * corpus curation (multi-word expressions for tokenizer pre-merging,
    * boilerplate phrase discovery): which adjacent word pairs co-occur
    * far more than their unigram frequencies predict? The classic score
    * is pointwise mutual information log(P(l,r)/(P(l)P(r))); since log
    * is monotone, RANKING by the lift P(l,r)/(P(l)P(r)) is identical,
    * and lift ≈ c(l,r)·N / (c(l)·c(r)) stays in integer arithmetic — the
    * transcendental-free contract every familiarity op here shares.
    * Scored as a two-step floor chain mirrored exactly by the oracle:
    * lift_ppm = ((1000000·c(l,r)) div c(l)) · N div c(r), where c(l),
    * c(r) are UNIGRAM counts and N the total token count. Overflow
    * bounds: c(l,r) < ~9.2e12 before 1000000·c overflows, and since
    * c(l,r) ≤ c(l) the first quotient is ≤ 1e6, so N < ~9.2e12 tokens
    * before the second product overflows (DECIMAL beyond). Output keeps
    * pairs with c(l,r) >= minCount (the rare-pair prune that bounds the
    * candidate table by repeated-bigram mass) and lift_ppm > 1000000 —
    * the positive-PMI cut: a pair no more frequent than independence
    * predicts is not a collocation.
    *
    * Scale shape: the corpus is scanned twice (unigram and bigram
    * counts), both immediately map-side-combined to vocab-sized tables —
    * two cheap column-pruned scans beat persisting an exploded
    * corpus-sized token table. The unigram joins run AFTER the minCount
    * prune, on the pruned candidate table, keyed by single words; the
    * total-token scalar joins as a one-row broadcast cross join, never
    * collected.
    */
  /** Skip-gram co-occurrence counts within a ±`window` token
    * neighborhood — the (center, context) pair table word2vec-class
    * embedding training consumes, and the wider-window complement of
    * [[pmiCollocations]]' adjacent bigrams. With a symmetric window the
    * directed count (a→b) equals (b→a), so pairs emit once in
    * canonical (a <= b) order; `minCount` prunes the hapax tail (the
    * word2vec min-count convention).
    *
    * Scale shape: pair generation is PURE MAP-SIDE — per position, the
    * forward window is a `slice` of the already-materialized token
    * array (fanout <= window per token, no self-join, no shuffle of
    * positions); the only exchange is ONE map-side-combined count on
    * the (a, b) pair key. The naive positions-table self-join this
    * replaces shuffles |corpus| position rows and rejoins them —
    * strictly worse at any scale.
    */
  def skipgramPairs(docs: DataFrame, window: Int = 2,
      minCount: Long = 3): DataFrame = {
    require(window >= 1 && window <= 16, s"window must be in [1,16], got $window")
    require(minCount >= 1, "minCount must be >= 1")
    val toks = docs.filter(length(trim(col("text"))) >= 1)
      .select(words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
    val pairs = toks.select(explode(flatten(
      transform(sequence(lit(0), size(col("w")) - 2), i =>
        transform(slice(col("w"), i + 2, lit(window)), r => {
          val l = element_at(col("w"), i + 1)
          struct(when(l <= r, l).otherwise(r).as("a"),
            when(l <= r, r).otherwise(l).as("b"))
        })))).as("p"))
    pairs.select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= minCount)
  }

  def pmiCollocations(docs: DataFrame, minCount: Long = 3): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    val toks = docs.filter(length(trim(col("text"))) >= 1)
      .select(words(col("text")).as("w"))
    val uni = toks.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c_t"))
    val tot = uni.agg(sum("c_t").as("n_total"))
    val clr = toks.filter(size(col("w")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("w")) - 2),
        i => struct(element_at(col("w"), i + 1).as("l"),
          element_at(col("w"), i + 2).as("r")))).as("p"))
      .select(col("p.l").as("l"), col("p.r").as("r"))
      .groupBy("l", "r").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    clr
      .join(uni.select(col("t").as("l"), col("c_t").as("n_left")), "l")
      .join(uni.select(col("t").as("r"), col("c_t").as("n_right")), "r")
      .crossJoin(broadcast(tot))
      .select(col("l"), col("r"), col("n_pair"), col("n_left"),
        col("n_right"),
        expr("(((1000000 * n_pair) div n_left) * n_total) div n_right")
          .as("lift_ppm"))
      .filter(col("lift_ppm") > 1000000L)
  }

  /** Vocabulary-growth (Heaps' law) curve — the tokenizer-sizing and
    * corpus-health statistic: how fast does the DISTINCT vocabulary grow
    * as the corpus grows? Heaps' law predicts V(n) ~ K*n^beta
    * (beta ~0.5 for natural text); a corpus whose curve flattens early
    * is template spam, one that grows linearly is noise/OCR garbage —
    * both are curation signals. The naive form orders the corpus,
    * streams it, and snapshots the seen-set at checkpoints — a single
    * sequential scan, the opposite of distributed. The trick that makes
    * it one shuffle of vocab-sized keys: define the corpus order by a
    * deterministic doc hash (the t11/t34 convention) with prefix p =
    * all docs whose bucket = h60('vg:'||doc_id) mod nBuckets is < p;
    * then a token is IN prefix p's vocabulary iff its MINIMUM bucket
    * over containing docs is < p. So per-token min(bucket) — one
    * map-side-combined aggregation — is the entire seen-set history at
    * once, and the curve is a cumulative sum over an nBuckets-row
    * histogram. The only window runs on that <= nBuckets-row table,
    * never the corpus; the spine range() join guarantees a row per
    * prefix even for empty buckets.
    *
    * Output per prefix (cumulative): documents, running token count,
    * distinct-vocabulary size. Hash-bucket prefixes also make the curve
    * RESHARD-STABLE: membership is a pure function of doc_id, so the
    * same corpus gives the same curve under any partitioning or file
    * order — a positional prefix could not.
    */
  /** Per-document lexical diversity — the within-document counterpart of
    * [[corpusStats]]'s corpus-level vocabulary numbers and the feature
    * family Gopher-style repetition filters key on: type-token ratio
    * (low = the same words over and over — template/keyword-stuffed
    * spam), hapax ratio (high = OCR noise or gibberish, low = formulaic
    * text), and top-word share (one token dominating the document is
    * the classic boilerplate/SEO signal). All ppm integer floors.
    *
    * Scale shape: ONE shuffle keyed (doc_id, word) — map-side combined,
    * so the exchange carries per-doc WORD COUNTS, not the token stream —
    * then a doc-keyed re-aggregation. Deliberately NOT the per-row
    * higher-order-function form: counting within-doc frequencies via
    * nested array filters is O(n²) in document length, fatal on the
    * 100k-word tail; the two-stage aggregate is linear and both
    * aggregations combine map-side.
    */
  /** Unicode NFC normalization audit — the canonical-equivalence
    * dedup gate: "café" with a precomposed é and "café" with e +
    * combining acute are the SAME text to every Unicode-aware consumer
    * but different byte strings to d1's md5, different shingles to d2,
    * different tokens to any tokenizer — so a corpus that skips NFC
    * fragments its duplicate clusters and its vocabulary along an
    * invisible axis. Per doc: is_nfc (the quick reject that lets a
    * mostly-ASCII corpus skip the rewrite), codepoint counts before and
    * after (counts, not UTF-16 units — astral-plane text makes
    * String.length lie, pinned by a unit case), and the normalized
    * text itself. Covers the three composition classes that behave
    * differently inside a normalizer: combining-mark composition
    * (e + U+0301 -> é), compatibility-singleton replacement (U+212B
    * Angstrom -> Å — a char swap with no mark involved), and
    * algorithmic Hangul jamo composition (U+1100 U+1161 -> 가 — table-
    * free arithmetic); plus partial composition (A + diaeresis + acute
    * -> Ä + acute: the output legitimately KEEPS a combining mark).
    *
    * Differential correctness: the JVM's java.text.Normalizer
    * (ICU-descended) against DuckDB's utf8proc nfc_normalize — two
    * independent implementations of UAX #15; the oracle MATCH is a
    * cross-library conformance check, not a self-check. Scale shape:
    * pure per-row map in the scan stage, zero exchange; NFC is
    * idempotent so re-runs are free.
    */
  def nfcAudit(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, t0) =>
          val t = if (t0 == null) "" else t0
          val nfc = java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC)
          (id,
            java.text.Normalizer.isNormalized(t, java.text.Normalizer.Form.NFC),
            t.codePointCount(0, t.length),
            nfc.codePointCount(0, nfc.length),
            nfc)
        }
      }
      .toDF("doc_id", "is_nfc", "raw_cp", "nfc_cp", "nfc_text")
  }

  /** Byte/char/word accounting — the three sizes of text that diverge
    * the moment a corpus leaves ASCII, and conflating them mis-sizes
    * everything downstream: storage and shuffle budgets are BYTES,
    * context windows and LM scaling laws are TOKENS, and display/
    * offset arithmetic is CODEPOINTS. Per doc: octet length, codepoint
    * count, whitespace-word count, and bytes-per-100-words in exact
    * long division — the compression-ratio stat (CJK runs ~3 bytes/
    * char, emoji 4, ASCII 1; a corpus-level shift in this number means
    * the language mix moved, not the content). Codepoints, not UTF-16
    * units — Spark's length() counts codepoints over UTF8String and
    * DuckDB's length() agrees, astral chars included (pinned).
    *
    * Scale shape: pure per-row codegen'd built-ins, zero exchange.
    */
  def byteStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      octet_length(col("text")).cast("int").as("n_bytes"),
      length(col("text")).cast("int").as("n_chars"),
      size(words(col("text"))).cast("int").as("n_words"))
      .withColumn("bytes_per_100w",
        expr("CAST(100L * n_bytes div n_words AS BIGINT)"))

  /** Duplicate-cluster size histogram — the SHAPE of the corpus's
    * duplication, which the scalar dup-rate (p4) hides: a 20% dup rate
    * made of pairs is normal web redundancy, the same rate made of a
    * few 10^5-clone mirror swarms is a crawler stuck in a farm — and
    * the swarm case is exactly what breaks naive LSH banding (the d2
    * hardening exists because of it), so this table is the first thing
    * to inspect when sizing dedup. Clusters = d1's md5(text) groups;
    * sizes bucket by floor(log2) computed as bit_length-1 via the
    * t24 `length(bin(x))` trick (engine-identical, transcendental-
    * free). Per bucket: cluster count and total docs; bucket 0 is the
    * unique mass, the tail buckets are the swarms.
    *
    * Scale shape: ONE 16-byte-key groupBy (d1's shuffle) then a
    * map-side-combined rollup over (bucket, 1, sz) counter rows —
    * strictly cheaper than d1 itself.
    */
  def dupSizeHistogram(docs: DataFrame): DataFrame = {
    docs.select(md5(col("text")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("sz"))
      .select((length(expr("bin(sz)")) - 1).cast("int").as("bucket"), col("sz"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
  }

  /** Per-source token yield after exact dedup — the number every
    * corpus release publishes next to its raw size: raw token counts
    * overstate what a model actually trains on, because duplicate mass
    * contributes once. Per source: docs and tokens BEFORE dedup, docs
    * and tokens AFTER (d1's keeper rule — global min-doc_id per
    * md5(text), so a cross-source duplicate's tokens are attributed to
    * the KEEPER's source, the convention that makes the kept columns
    * sum to the global deduped total; documented and pinned by a
    * cross-source clone), and yield_ppm = 1e6 * kept / total tokens.
    * A low-yield source is mirror/boilerplate mass — the first column
    * a mixture plan (p10) should consult before trusting raw supply.
    *
    * Scale shape: one map-side token count per doc, keepers = ONE
    * 16-byte-key groupBy (d1's shuffle), counts map-side combined per
    * source; the join back is hash-keyed on md5. No text shuffles.
    */
  def tokenYield(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), col("source"),
      size(words(col("text"))).as("nw"), md5(col("text")).as("h"))
    val keepers = t.groupBy(col("h")).agg(min(col("doc_id")).as("kid"))
    val kept = t.join(keepers,
        t("h") === keepers("h") && t("doc_id") === keepers("kid"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs_kept"), sum(col("nw")).as("tokens_kept"))
    val total = t.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("tokens_total"))
    total.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("tokens_total"),
        coalesce(col("docs_kept"), lit(0L)).as("docs_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"),
        expr("1000000 * coalesce(tokens_kept, 0) div tokens_total").as("yield_ppm"))
  }

  /** Overlapping sliding-window chunking — the RAG-prep complement of
    * t33's boundary-aligned sections: retrieval wants windows that
    * OVERLAP (stride < window) so no answer span is ever split across
    * a chunk boundary without also appearing whole in a neighbor —
    * consecutive chunks share window−stride words, the coverage
    * guarantee t33's disjoint grouping structurally can't give. Window
    * count is the closed form k = 1 if n ≤ W else ceil((n−W)/S)+1: the
    * last window is the FIRST one reaching the tail, so no emitted
    * window is wholly contained in its predecessor (the degenerate
    * tail-spam a naive `while start < n` loop emits; pinned), every
    * word is covered, and the final window keeps at least W−S+1 words.
    * Output (chunk_idx, start_word, n_words, chunk_text) with exact
    * word offsets so a retriever can map hits back into the document.
    *
    * Scale shape: pure Catalyst — split, a closed-form count, one
    * explode, slice/array_join — whole-stage codegen, zero exchange,
    * rides the scan; output size is n/S rows per doc by construction.
    */
  def overlapChunks(docs: DataFrame, window: Int = 8, stride: Int = 4): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(stride >= 1 && stride <= window, "stride must be in [1, window]")
    docs.where(trim(col("text")) =!= "")
      .select(col("doc_id"), words(col("text")).as("w"))
      .withColumn("n", size(col("w")))
      .withColumn("k", expr(
        s"CASE WHEN n <= $window THEN 1 ELSE (n - $window + ${stride - 1}) div $stride + 1 END"))
      .select(col("doc_id"), col("n"),
        explode(expr("sequence(0, k - 1)")).as("ci"), col("w"))
      .select(col("doc_id"), col("ci").cast("int").as("chunk_idx"),
        (col("ci") * stride).cast("int").as("start_word"),
        least(lit(window), col("n") - col("ci") * stride).cast("int").as("n_words"),
        array_join(expr(s"slice(w, ci * $stride + 1, $window)"), " ").as("chunk_text"))
  }

  def lexicalDiversity(docs: DataFrame): DataFrame = {
    docs.filter(trim(col("text")) =!= "")
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_words"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        max("c").as("top_freq"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        expr("1000000 * n_distinct div n_words").as("ttr_ppm"),
        expr("1000000 * n_hapax div n_words").as("hapax_ppm"),
        expr("1000000 * top_freq div n_words").as("top_share_ppm"))
  }

  /** Zipf rank-frequency table — the RANK-axis sibling of
    * [[vocabGrowth]]'s Heaps curve: the top-`maxRank` words by corpus
    * frequency with the two integer diagnostics a curation pass reads
    * off the curve. `rf_ppm = 1e6 * freq(r) div freq(1)` is the
    * normalized curve (Zipf with exponent 1 predicts ~1e6/r);
    * `dbl_ppm = 1e6 * freq(r) div freq(2r)` is the transcendental-free
    * slope probe (the exponent is log2 of it: ~2e6 for natural text;
    * ~1e6 = flat = template spam; >>2e6 = a boilerplate token dominating
    * the head) — NULL once rank 2r is beyond the emitted table, the
    * repo's horizon convention. Ties break by word ascending on both
    * sides, the [[frequentNgrams]] contract.
    *
    * Scale shape: ONE exploded scan into a map-side-combined word count
    * (vocab-sized, never the corpus), then the salted two-stage top-K —
    * per-salt-group top-maxRank first, global window only on the
    * <= salt*maxRank survivors — so no global sort ever touches the
    * vocab table; freq(1) joins back as a one-row broadcast and the
    * doubling join is tiny-vs-tiny. Overflow at freq(1) ~9.2e12
    * occurrences of one word (a ~2e14-token corpus); DECIMAL beyond.
    */
  def zipfRanks(docs: DataFrame, maxRank: Int = 256, salt: Int = 8): DataFrame = {
    require(maxRank >= 2 && salt >= 1, "maxRank must be >= 2, salt >= 1")
    val counts = docs.filter(trim(col("text")) =!= "")
      .select(explode(words(col("text"))).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
    val ranked = topKByCount(counts, maxRank, salt)
      .select(col("rk").cast("int").as("rnk"), col("ngram").as("word"),
        col("cnt").as("freq"))
    val c1 = ranked.filter(col("rnk") === 1).select(col("freq").as("c1"))
    val dbl = ranked.select(col("rnk").as("r2"), col("freq").as("c2"))
    ranked.crossJoin(broadcast(c1))
      .join(broadcast(dbl), col("r2") === col("rnk") * 2, "left")
      .select(col("rnk"), col("word"), col("freq"),
        expr("1000000 * freq div c1").as("rf_ppm"),
        expr("1000000 * freq div c2").as("dbl_ppm"))
  }

  def vocabGrowth(docs: DataFrame, nBuckets: Int = 16): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 4096,
      "nBuckets must be in [2, 4096]")
    val base = docs.filter(length(trim(col("text"))) >= 1)
      .select(col("doc_id"), words(col("text")).as("w"))
      .withColumn("bk",
        pmod(h60(concat(lit("vg:"), col("doc_id"))), lit(nBuckets.toLong))
          .cast("int"))
    val perBucket = base.groupBy("bk")
      .agg(count(lit(1)).as("nd"), sum(size(col("w")).cast("long")).as("nt"))
    val firstSeen = base.select(col("bk"), explode(col("w")).as("t"))
      .groupBy("t").agg(min("bk").as("mb"))
      .groupBy(col("mb").as("bk")).agg(count(lit(1)).as("nv"))
    val spine = docs.sparkSession.range(nBuckets.toLong)
      .select(col("id").cast("int").as("bk"))
    val win = Window.orderBy("bk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(perBucket, Seq("bk"), "left").join(firstSeen, Seq("bk"), "left")
      .select(col("bk").as("prefix_idx"),
        sum(coalesce(col("nd"), lit(0L))).over(win).as("n_docs"),
        sum(coalesce(col("nt"), lit(0L))).over(win).as("n_tokens"),
        sum(coalesce(col("nv"), lit(0L))).over(win).as("vocab"))
  }

  /** Flesch reading-ease scoring — the classic readability feature of
    * document quality filtering (too-difficult text is often OCR noise
    * or legal boilerplate; too-easy is often spam or navigation): score
    * = 206.835 - 1.015*(words/sentences) - 84.6*(syllables/word). Kept
    * transcendental-free in MILLI units with a documented two-step
    * floor chain both engines mirror exactly:
    * flesch_milli = 206835 - (1015*wps_ppm) div 1e6
    *                       - (84600*spw_ppm) div 1e6,
    * where wps_ppm = 1e6*W div S and spw_ppm = 1e6*Y div W. Overflow
    * bounds: wps_ppm <= 1e6*W, so W < ~9.1e9 per document before
    * 1015 * wps_ppm overflows a long — five orders past any real
    * document. The syllable counter is the standard heuristic: vowel
    * GROUPS ([aeiouy]+ runs after one lower()), min 1 per word — a
    * vowelless token ("tsk", digits) still costs one syllable.
    * Sentences = [.!?]+ runs, min 1 (a fragment is one sentence).
    * Bands at the textbook cuts: >= 70.0 easy, >= 50.0 standard, else
    * difficult.
    *
    * Scale shape: pure per-row map — the syllable sum is one
    * higher-order transform+aggregate over the word array, regexps
    * compiled once per expression by codegen; zero exchange.
    */
  def readability(docs: DataFrame): DataFrame = {
    val w = words(lower(col("text")))
    docs.filter(length(trim(col("text"))) >= 1)
      .select(col("doc_id"),
        size(w).cast("long").as("n_words"),
        greatest(lit(1L),
          regexp_count(lower(col("text")), lit("[.!?]+")).cast("long"))
          .as("n_sentences"),
        aggregate(w, lit(0L),
          (acc, x) => acc + greatest(lit(1L),
            regexp_count(x, lit("[aeiouy]+")).cast("long")))
          .as("n_syllables"))
      .withColumn("wps_ppm", expr("(1000000 * n_words) div n_sentences"))
      .withColumn("spw_ppm", expr("(1000000 * n_syllables) div n_words"))
      .withColumn("flesch_milli",
        expr("206835 - (1015 * wps_ppm) div 1000000 - (84600 * spw_ppm) div 1000000"))
      .withColumn("band",
        when(col("flesch_milli") >= 70000L, "easy")
          .when(col("flesch_milli") >= 50000L, "standard")
          .otherwise("difficult"))
  }

  /** Edit-distance verification of LSH candidate pairs — the
    * order-sensitive sibling of [[jaccardVerify]]. Shingle-set Jaccard
    * is a BAG similarity: a document and its paragraph-shuffled twin
    * score near 1.0, and templated pages sharing most shingles but
    * differing in every slot can clear a Jaccard bar. Levenshtein
    * distance is the sequence-level truth — exactly what "near
    * duplicate" means when dedup feeds training data (a shuffled doc IS
    * a different training example; a 4-char edit is not). Full DP is
    * O(n*m) per pair and unusable on long documents, so the kernel is
    * the BANDED form (Ukkonen 1985): a diagonal band of width 2k+1
    * makes it O(k*n), exact for every distance <= k, and the moment the
    * band proves d > k the pair is CAPPED at k+1 — a verifier never
    * needs the exact distance of a non-duplicate. Spark's built-in
    * three-arg `levenshtein(l, r, threshold)` is that banded kernel,
    * codegen'd; the DuckDB oracle computes the FULL unbanded distance
    * and applies the cap afterwards, so a hash match proves the band is
    * exact below the threshold and the cap fires on exactly the same
    * pairs — the banded-equals-full law, verified on real candidates.
    *
    * Output per candidate pair: lengths, `edit_capped` (= min(d, k+1)),
    * `within` (d <= k), and for within-pairs the normalized similarity
    * `sim_ppm = 1e6 * (maxLen - d) div maxLen` (null when capped — a
    * verifier reports "not a duplicate", never a fake similarity, and
    * null when maxLen = 0, the both-empty degenerate where similarity
    * is undefined).
    *
    * Scale shape: the quadratic-in-theory verify runs ONLY on LSH
    * candidates (corpus-sublinear by d2's banding + bucket cap), each
    * pair costing O(k * len) — the two joins that attach texts to pairs
    * are broadcast-degenerate at real candidate rates. Pairs come from
    * [[minhashPairs]] (distinct-text reps, so d >= 1 by construction);
    * [[editVerifyPairs]] accepts any precomputed (a, b) table — the
    * d4 lesson: a verifier should not rebuild the candidate pipeline.
    */
  def editVerify(docs: DataFrame, maxDist: Int = 100,
      maxBandBucket: Int = MaxBandBucket): DataFrame =
    editVerifyPairs(minhashPairs(docs, maxBandBucket), docs, maxDist)

  /** [[editVerify]] over an explicit candidate-pair table (columns
    * `a`, `b` keying `docs.doc_id`). */
  def editVerifyPairs(pairs: DataFrame, docs: DataFrame,
      maxDist: Int = 100): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val ta = docs.select(col("doc_id").as("a"), col("text").as("text_a"))
    val tb = docs.select(col("doc_id").as("b"), col("text").as("text_b"))
    pairs.join(ta, "a").join(tb, "b")
      .withColumn("d_raw", levenshtein(col("text_a"), col("text_b"), maxDist))
      .select(col("a"), col("b"),
        length(col("text_a")).as("len_a"),
        length(col("text_b")).as("len_b"),
        when(col("d_raw") === -1, lit(maxDist + 1))
          .otherwise(col("d_raw")).as("edit_capped"),
        (col("d_raw") =!= -1).as("within"),
        when(col("d_raw") =!= -1 &&
            greatest(length(col("text_a")), length(col("text_b"))) > 0,
          expr("(1000000 * cast(greatest(length(text_a), length(text_b)) - d_raw as bigint)) " +
            "div greatest(length(text_a), length(text_b))"))
          .as("sim_ppm"))
  }

  /** Incremental dedup — the daily-ingest op: which documents of a new
    * crawl `increment` are genuinely new relative to the already-ingested
    * `corpus` (and first within their own batch)? Exactness comes from a
    * hash anti-join; the interesting scale piece is the BLOOM PRE-FILTER:
    * the corpus hashes fold into a Bloom filter (one distributed
    * treeAggregate pass — in production built once per corpus snapshot
    * and reused across every increment), the filter broadcasts, and rows
    * whose hash definitely isn't in the corpus (no false negatives) skip
    * the join entirely. Only bloom-HIT rows — true dups plus an fpp
    * fraction of false positives — shuffle into the exact confirm join,
    * so join traffic is O(dup rate + fpp), not O(increment). Output is
    * exact regardless of fpp.
    *
    * The bloom probe runs in a typed mapPartitions (Spark's
    * `BloomFilterMightContain` expression is optimizer-internal, not a
    * public function) over (doc_id, hash, flag) rows only — never text.
    * Per document: `dup_of_corpus`, `first_in_batch`, and the verdict
    * `keep` = new to corpus AND first in batch.
    */
  def incrementalDedup(increment: DataFrame, corpus: DataFrame,
      expectedItems: Long = 1L << 20, fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val spark = increment.sparkSession
    import spark.implicits._
    val corpusH = corpus.select(md5(col("text")).as("h"))
    val bloomB = spark.sparkContext.broadcast(
      corpusH.stat.bloomFilter("h", expectedItems, fpp))
    val flagged = increment
      .select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("first_in_batch",
        col("doc_id") === min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .as[(Long, String, Boolean)]
      .mapPartitions { it =>
        val bf = bloomB.value
        it.map { case (id, h, fb) => (id, h, fb, bf.mightContainString(h)) }
      }
      .toDF("doc_id", "h", "first_in_batch", "bloom_hit")
      .persist().registered
    val confirmed = flagged.filter(col("bloom_hit"))
      .join(corpusH.distinct().withColumn("in_c", lit(true)), Seq("h"), "left")
      .select(col("doc_id"), col("first_in_batch"),
        coalesce(col("in_c"), lit(false)).as("dup_of_corpus"))
    val definiteNew = flagged.filter(!col("bloom_hit"))
      .select(col("doc_id"), col("first_in_batch"), lit(false).as("dup_of_corpus"))
    confirmed.union(definiteNew)
      .select(col("doc_id"), col("dup_of_corpus"), col("first_in_batch"),
        (!col("dup_of_corpus") && col("first_in_batch")).as("keep"))
  }

  /** Deterministic global shuffle — assign every document a unique
    * position in a pseudo-random total order (the training-order shuffle
    * a corpus gets before sequence packing), WITHOUT a global sort-to-one
    * -partition window. The sort key is a per-doc hash; its TOP bits pick
    * one of `nShards` shards, so shard id is monotone in the key and
    * (shard, key) order IS global key order. Each shard ranks its own
    * rows (one shuffle on the uniform shard key), shard row-counts — a
    * `nShards`-row aggregate — turn into starting offsets on the driver
    * side of a broadcast join, and position = shard offset + local rank.
    * Scale: the only data shuffle carries (doc_id, 8-byte key); the
    * offsets table is nShards rows. Deterministic across runs, engines,
    * and partitionings; collisions tie-break on doc_id.
    */
  def globalShuffle(docs: DataFrame, nShards: Int = 16): DataFrame = {
    require(nShards > 0 && (nShards & (nShards - 1)) == 0 && nShards <= (1 << 30),
      "nShards must be a power of two")
    val shardBits = 31 - Integer.numberOfLeadingZeros(nShards)
    val keyed = docs.select(col("doc_id"),
      h60(concat(lit("shuf:"), col("doc_id").cast("string"))).as("k"))
      .withColumn("shard", shiftright(col("k"), 60 - shardBits).cast("int"))
    val byShard = Window.partitionBy(col("shard")).orderBy(col("k"), col("doc_id"))
    val offsets = keyed.groupBy("shard").agg(count(lit(1)).as("n"))
      .withColumn("offset", // nShards rows: the single-partition window is a non-issue
        coalesce(sum(col("n")).over(
          Window.orderBy(col("shard")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("shard", "offset")
    keyed
      .withColumn("rn", row_number().over(byShard))
      .join(broadcast(offsets), "shard")
      .select(col("doc_id"), col("shard"),
        (col("offset") + col("rn") - 1).as("pos"))
  }

  /** Curriculum training order — the banded refinement of
    * [[globalShuffle]]: instead of one flat pseudo-random order, docs are
    * grouped into difficulty bands (short-to-long length curriculum —
    * the classic LM curriculum axis; `thresholds` are the band edges,
    * band = number of edges <= n_words) and the training order is
    * band-major with a deterministic pseudo-random shuffle INSIDE each
    * band: easy examples first, but never in a corpus-systematic order
    * within a band. `step` is the unique global training position.
    *
    * Scale shape: the [[globalShuffle]] trick lifted one level — the
    * shard id is the TOP bits of the per-doc hash key, so within a band
    * (shard, key) order IS key order, and (band, shard) offsets — a
    * `bands × nShards`-row aggregate, broadcast back — turn per-(band,
    * shard) ranks into the global band-major position without any
    * global window. The only data shuffle carries (doc_id, band, 8-byte
    * key); whitespace-only docs are excluded (no trainable tokens).
    */
  /** T5-style span corruption — the denoising-pretraining TRANSFORM
    * (not a filter): mask contiguous word spans, replace each masked
    * run with one `<extra_id_k>` sentinel in the model INPUT, and emit
    * the run contents behind their sentinels as the TARGET, terminated
    * by one final sentinel (the T5 convention a downstream trainer
    * expects verbatim). Span selection is hash-deterministic, the
    * repo's reshard-stable convention: word i STARTS a span iff
    * h60("sp:" + doc_id + ":" + i) mod 100 < startPct, and a span
    * covers `spanLen` words, so overlapping spans merge into one run
    * (one sentinel — merging is what keeps the corruption rate at
    * ~startPct*spanLen% instead of double-counting overlaps). A doc
    * with no spans keeps its text verbatim and gets NULL targets (no
    * denoising signal — the NULL-not-empty convention). Counts
    * (n_words, n_masked, n_spans) ride along so the corpus-level
    * corruption rate is a one-line aggregate.
    *
    * Scale shape: one-pass typed mapPartitions (per-partition digest
    * reuse, the m1 pattern) — O(n) per document where the equivalent
    * higher-order-function form is O(n^2) in the sentinel numbering
    * (the t43 lesson); zero exchange, rides the scan.
    */
  def spanCorruption(docs: DataFrame, startPct: Int = 5,
                     spanLen: Int = 3): DataFrame = {
    require(startPct >= 1 && startPct <= 50, "startPct must be in [1, 50]")
    require(spanLen >= 1 && spanLen <= 16, "spanLen must be in [1, 16]")
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def startsSpan(id: Long, i: Int): Boolean = {
          md.reset()
          val hex = md.digest(s"sp:$id:$i".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString.substring(0, 15)
          java.lang.Long.parseLong(hex, 16) % 100 < startPct
        }
        it.map { case (id, text) =>
          val t = if (text == null) "" else text.trim
          val w: Array[String] =
            if (t.isEmpty) Array.empty else t.split("[ \t\n\r\f]+")
          val n = w.length
          val start = Array.tabulate(n)(i => startsSpan(id, i))
          val masked = Array.tabulate(n) { j =>
            (0 until spanLen).exists(k => j - k >= 0 && start(j - k))
          }
          val in = new StringBuilder
          val tg = new StringBuilder
          var runs = 0
          var nMasked = 0
          var j = 0
          while (j < n) {
            if (!masked(j)) {
              if (in.nonEmpty) in += ' '
              in ++= w(j); j += 1
            } else {
              val sent = s"<extra_id_$runs>"
              if (in.nonEmpty) in += ' '
              in ++= sent
              if (tg.nonEmpty) tg += ' '
              tg ++= sent
              while (j < n && masked(j)) {
                tg += ' '; tg ++= w(j); nMasked += 1; j += 1
              }
              runs += 1
            }
          }
          val targets =
            if (runs == 0) null
            else { tg += ' '; tg ++= s"<extra_id_$runs>"; tg.toString }
          (id, n, nMasked, runs, in.toString, targets)
        }
      }
      .toDF("doc_id", "n_words", "n_masked", "n_spans", "inputs", "targets")
  }

  /** Fill-in-the-middle (FIM) transform — t45's sibling for infilling
    * pretraining: pick a contiguous middle span, move it to the END of
    * the sample behind sentinel tokens, so a causal LM learns to infill
    * (Bavarian et al.-style). A doc is transformed iff n_words >= 3 and
    * h60("fim:"+doc_id) mod 100 < applyPct (the corpus-level FIM rate —
    * real recipes mix FIM and plain LM samples, so 'none' is a
    * first-class mode, not a degenerate row). Split points are
    * hash-deterministic: mid_start = hA mod n, mid_len = 1 + hB mod
    * min(maxMiddle, n - mid_start) — prefix/suffix may be EMPTY
    * (document-start/end infilling is real and the sentinels still
    * delimit them), middle never is. Transformed docs alternate by hash
    * between the two segment orders a FIM trainer mixes 50/50:
    *   psm: <fim_prefix> P <fim_suffix> S <fim_middle> M
    *   spm: <fim_suffix> S <fim_prefix> P <fim_middle> M
    * (exact token layout is a corpus convention the trainer must share;
    * ours is pinned verbatim by the oracle). Untransformed docs keep
    * their whitespace-normalized text with NULL mid_start/mid_len (the
    * NULL-not-empty convention).
    *
    * Scale shape: pure per-row slice/concat/array_join expressions —
    * whole-stage codegen, zero exchange, rides the scan; reshard-stable
    * by the keyed-md5 convention.
    */
  def fimTransform(docs: DataFrame, applyPct: Int = 50,
                   maxMiddle: Int = 16): DataFrame = {
    require(applyPct >= 0 && applyPct <= 100, "applyPct must be in [0, 100]")
    require(maxMiddle >= 1 && maxMiddle <= 256, "maxMiddle must be in [1, 256]")
    val id = col("doc_id")
    val txt = coalesce(col("text"), lit(""))
    val arr = when(length(trim(txt)) === 0,
      array().cast("array<string>")).otherwise(words(txt))
    val n = size(arr)
    val applied = n >= 3 &&
      pmod(h60(concat(lit("fim:"), id)), lit(100L)) < applyPct
    val ms = pmod(h60(concat(lit("fima:"), id)), n.cast("long")).cast("int")
    val maxLen = least(lit(maxMiddle), n - ms)
    val mlen = (pmod(h60(concat(lit("fimb:"), id)), maxLen.cast("long"))
      .cast("int") + 1)
    val spm = pmod(h60(concat(lit("fimm:"), id)), lit(2L)) === 1
    val pre = slice(arr, lit(1), ms)
    val mid = slice(arr, ms + 1, mlen)
    val suf = slice(arr, ms + mlen + 1, n - ms - mlen)
    val sP = array(lit("<fim_prefix>"))
    val sS = array(lit("<fim_suffix>"))
    val sM = array(lit("<fim_middle>"))
    val psmToks = concat(sP, pre, sS, suf, sM, mid)
    val spmToks = concat(sS, suf, sP, pre, sM, mid)
    docs.select(
      id,
      n.as("n_words"),
      when(!applied, lit("none")).when(spm, lit("spm"))
        .otherwise(lit("psm")).as("mode"),
      when(applied, ms).as("mid_start"),
      when(applied, mlen).as("mid_len"),
      when(!applied, array_join(arr, " "))
        .when(spm, array_join(spmToks, " "))
        .otherwise(array_join(psmToks, " ")).as("fim_text"))
  }

  /** BERT-style MLM masking — the third member of the pretraining-
    * transform trio beside T5 span corruption ([[spanCorruption]]) and
    * FIM ([[fimTransform]]): select ~`maskPct`% of words and apply the
    * classic 80/10/10 policy — 80% become a `[MASK]` token, 10% become
    * a RANDOM replacement word, 10% stay VERBATIM (the trap that forces
    * the model to attend to every position, since an unmasked word may
    * still be a label). Selection and action are hash-deterministic per
    * (doc, position) — the repo's reshard-stable convention: word i is
    * selected iff h60("mlm:"+id+":"+i) mod 100 < maskPct, its action is
    * h60("mlma:"+id+":"+i) mod 10 (0-7 mask / 8 random / 9 keep). The
    * random replacement is DOCUMENT-LOCAL — the word at index
    * h60("mlmr:"+id+":"+i) mod n of the SAME document — which keeps the
    * transform a pure per-row function (a corpus-vocab draw would need
    * a join or broadcast for what is, to the loss, still just a wrong
    * token); it may coincide with the original, exactly as BERT's
    * vocab draw may. `labels` carries the ORIGINAL words at selected
    * positions in order (NULL when none selected — the NULL-not-empty
    * convention); counts ride along so corpus-level mask rates are a
    * one-line aggregate.
    *
    * Scale shape: pure per-row array expressions (transform/filter/
    * zip-free, codegen'd with subexpression elimination), zero
    * exchange, rides the scan.
    */
  def mlmMask(docs: DataFrame, maskPct: Int = 15): DataFrame = {
    require(maskPct >= 1 && maskPct <= 50, "maskPct must be in [1, 50]")
    val id = col("doc_id")
    val txt = coalesce(col("text"), lit(""))
    // empty-token filter instead of a trim guard: column trim strips
    // only ASCII spaces, so "\n\t"-padded text would sprout phantom ""
    // words — filtering makes the op total over arbitrary whitespace
    val arr = filter(split(txt, wsClass + "+"), x => length(x) > 0)
    val n = size(arr)
    // per-token (word, action, replacement) structs; action -1 = not
    // selected, 0-7 = [MASK], 8 = local random replacement, 9 = keep
    val st = transform(arr, (x, i) => {
      val sel = pmod(h60(concat(lit("mlm:"), id, lit(":"), i)),
        lit(100L)) < maskPct
      val act = pmod(h60(concat(lit("mlma:"), id, lit(":"), i)),
        lit(10L)).cast("int")
      val rep = element_at(arr,
        pmod(h60(concat(lit("mlmr:"), id, lit(":"), i)),
          n.cast("long")).cast("int") + 1)
      struct(x.as("w"),
        when(sel, act).otherwise(lit(-1)).as("a"),
        when(sel && act === 8, rep).as("r"))
    })
    val nSel = size(filter(st, s => s("a") >= 0))
    docs.select(
      id,
      n.as("n_words"),
      nSel.as("n_selected"),
      size(filter(st, s => s("a").between(0, 7))).as("n_masktok"),
      size(filter(st, s => s("a") === 8)).as("n_random"),
      size(filter(st, s => s("a") === 9)).as("n_keep"),
      array_join(transform(st, s =>
        when(s("a").between(0, 7), lit("[MASK]"))
          .when(s("a") === 8, s("r"))
          .otherwise(s("w"))), " ").as("masked_text"),
      when(nSel > 0,
        array_join(transform(filter(st, s => s("a") >= 0), s => s("w")), " "))
        .as("labels"))
  }

  /** Shard-compaction planning — the small-files fixer's PLAN step
    * (what Iceberg's rewriteDataFiles / AQE's partition coalescing do,
    * as an inspectable table): assign each input shard to an output bin
    * by the streaming-coalesce rule, bin = floor(cum_bytes_before /
    * targetBytes) within each source in shard_id order. Deterministic,
    * order-respecting (bins are CONTIGUOUS runs of shards — a merge is
    * a sequential concat, no random reads), and single-pass — unlike
    * first-fit-decreasing it never reorders shards, which is what keeps
    * doc order stable across a compaction. Bin labels are target-
    * multiples offsets and may SKIP integers when one shard overshoots
    * the target by itself (a 3x-target shard advances the label by 3)
    * — the skip IS the overshoot diagnostic, and fill_ppm > 1e6 flags
    * the same bins. Every non-final bin's cumulative end crosses its
    * (label+1)*target boundary — the no-premature-close invariant the
    * unit test pins.
    *
    * Scale shape: this is a METADATA-PLANE operator — rows are file
    * manifest entries (~10^6 files at 100 TB / 100 MB), not documents.
    * Two same-keyed windows + one map-side-combined rollup over that
    * manifest; the data plane never moves until the plan is executed.
    */
  /** Backfill layering — the topological PLAN of a derived-table DAG:
    * which tables can rebuild in parallel (one layer) and in what
    * order (layer index), the schedule every lakehouse backfill /
    * full-recompute runs. Layer = 1 + MAX over upstream layers, and a
    * table is placed only when ALL upstreams are placed — the
    * longest-path fixpoint, deliberately the opposite aggregator from
    * e46's min-hop BFS: readiness is about the SLOWEST dependency, not
    * the nearest seed. Tables never placed within `maxRounds` come
    * back with a NULL layer and status `blocked` — cycle members (a
    * backfill cannot start anywhere inside a cycle), everything
    * downstream of one (the blast radius, pinned), or depth beyond the
    * horizon (the e46 convention: unplaced IS the signal).
    *
    * Scale shape: METADATA-PLANE — rows are tables/edges of a lineage
    * graph (thousands at most); per round ONE src-keyed join + ONE
    * dst-keyed all-upstreams-placed count against in-degree; lineage
    * truncated per round (localCheckpoint, the d10 pattern).
    */
  def backfillLayers(nodes: DataFrame, deps: DataFrame,
      maxRounds: Int = 8): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val d = deps.select(col("src"), col("dst")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val indeg = d.groupBy("dst").agg(count(lit(1)).as("indeg"))
    var layers = nodes.join(d.select(col("dst").as("tbl")).distinct(),
        Seq("tbl"), "left_anti")
      .select(col("tbl"), lit(0L).as("layer")).localCheckpoint()
    var r = 0
    while (r < maxRounds) {
      val cand = d.join(layers.select(col("tbl").as("src"), col("layer")), "src")
        .groupBy("dst").agg(count(lit(1)).as("nl"), max("layer").as("mx"))
        .join(indeg, "dst")
        .filter(col("nl") === col("indeg"))
        .select(col("dst").as("tbl"), (col("mx") + 1).as("layer"))
      layers = layers.unionByName(
        cand.join(layers.select("tbl"), Seq("tbl"), "left_anti"))
        .localCheckpoint()
      r += 1
    }
    val out = nodes.join(layers, Seq("tbl"), "left")
      .select(col("tbl"), col("layer"),
        when(col("layer").isNull, lit("blocked")).otherwise(lit("ready")).as("status"))
    val res = out.localCheckpoint()
    d.unpersist(blocking = false)
    res
  }

  /** Manifest diff between two table snapshots — the audit every
    * incremental consumer and compaction scheduler reads first (what
    * Iceberg surfaces as snapshot summary + changed-files metadata, as
    * an inspectable table): per file path, whether the file was `added`
    * (current only), `removed` (previous only), `rewritten` (present in
    * both with different bytes — compaction, upsert, schema rewrite) or
    * `unchanged`, with both byte sizes and the signed delta. The
    * downstream rollup (net growth, churn rate per source) is one
    * groupBy away; the row-level table is the primitive.
    *
    * Scale shape: METADATA-PLANE — rows are manifest entries, never
    * data. ONE full-outer join on the path key (hash-partitioned;
    * manifests of a 10^12-doc table are ~10^7 rows, trivially
    * shuffleable) and pure per-row CASE arithmetic after it. NULL byte
    * columns mean absent-on-that-side, preserved as data (not zeroed —
    * a zero-byte file and an absent file are different facts).
    */
  def manifestDiff(prev: DataFrame, cur: DataFrame): DataFrame = {
    val p = prev.select(col("path"), col("bytes").cast("long").as("bytes_prev"))
    val c = cur.select(col("path"), col("bytes").cast("long").as("bytes_cur"))
    p.join(c, Seq("path"), "full_outer")
      .withColumn("status",
        when(col("bytes_prev").isNull, lit("added"))
          .when(col("bytes_cur").isNull, lit("removed"))
          .when(col("bytes_prev") =!= col("bytes_cur"), lit("rewritten"))
          .otherwise(lit("unchanged")))
      .withColumn("delta_bytes",
        coalesce(col("bytes_cur"), lit(0L)) - coalesce(col("bytes_prev"), lit(0L)))
  }

  /** Partition-evolution rewrite planning — the PLAN step of changing a
    * table's partition spec (what Iceberg's partition evolution +
    * rewriteDataFiles decide file-by-file, as an inspectable table): a
    * data file whose (min_ts, max_ts) span fits ONE partition of the
    * new time grain is a metadata-only MOVE (rebind it in the manifest,
    * zero IO); a file straddling partitions must be REWRITTEN — split
    * into one output file per partition it overlaps. Output is the
    * per-target-partition workload: how many files land by move vs
    * rewrite and the byte volumes (rewrite bytes attributed WHOLE to
    * each overlapped partition — the read amplification a rewrite
    * actually pays, since a straddling file is scanned once per output
    * partition in the worst case). A span ending exactly ON a boundary
    * belongs to the next partition (half-open [lo, hi) day bins via
    * integer division — pinned). Error-as-data: an inverted range
    * (`n_invalid`) or a span fanning past `maxFanOut` partitions
    * (`n_overspan` — the runaway-manifest guard that also bounds the
    * explode) lands in the NULL-partition row instead of throwing.
    *
    * Scale shape: METADATA-PLANE — rows are manifest entries, not
    * documents. One bounded explode (<= maxFanOut rows per file, and in
    * practice span/grain) then a map-side-combined rollup on the int
    * partition key; nothing document-sized moves until the plan is
    * executed.
    */
  def partitionEvolutionPlan(files: DataFrame, partSeconds: Long = 86400L,
      maxFanOut: Long = 4096L): DataFrame = {
    require(partSeconds >= 1, s"partSeconds must be positive, got $partSeconds")
    require(maxFanOut >= 1, s"maxFanOut must be positive, got $maxFanOut")
    // FLOOR division, not `div` (which truncates toward zero): a
    // pre-1970 timestamp (negative epoch seconds) must bin to the
    // partition BELOW zero, keeping the half-open [lo, hi) contract.
    // (DuckDB's integer `//` ALSO truncates, so the oracle spells out
    // the same remainder correction.) partSeconds > 0 by the require,
    // so floordiv = div - 1 exactly when the remainder is negative.
    def floorDiv(c: String) =
      expr(s"$c div ${partSeconds}L - (case when $c % ${partSeconds}L < 0 then 1 else 0 end)")
    val lo = floorDiv("min_ts")
    val hi = floorDiv("max_ts")
    val valid = col("max_ts") >= col("min_ts")
    val np = hi - lo + 1
    val fam = when(!valid, lit("i"))
      .when(np > maxFanOut, lit("o"))
      .when(np === 1, lit("m")).otherwise(lit("r"))
    val spread = files.select(col("bytes").cast("long").as("bytes"),
      fam.as("fam"),
      explode(when(valid && np <= maxFanOut, sequence(lo, hi))
        .otherwise(array(lit(null).cast("long")))).as("part"))
    spread.groupBy("part").agg(
      sum(when(col("fam") === "m", 1L).otherwise(0L)).as("n_move"),
      sum(when(col("fam") === "m", col("bytes")).otherwise(0L)).as("move_bytes"),
      sum(when(col("fam") === "r", 1L).otherwise(0L)).as("n_rewrite"),
      sum(when(col("fam") === "r", col("bytes")).otherwise(0L)).as("rewrite_bytes"),
      sum(when(col("fam") === "i", 1L).otherwise(0L)).as("n_invalid"),
      sum(when(col("fam") === "o", 1L).otherwise(0L)).as("n_overspan"))
  }

  def compactionPlan(shards: DataFrame, targetBytes: Long = 1L << 20): DataFrame = {
    require(targetBytes >= 1, "targetBytes must be positive")
    val bySrc = Window.partitionBy(col("source")).orderBy(col("shard_id"))
    val cumBefore = coalesce(
      sum(col("bytes")).over(bySrc.rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L))
    val binned = shards
      .select(col("source"), col("shard_id"),
        col("bytes").cast("long").as("bytes"))
      .withColumn("cum_before", cumBefore)
      .withColumn("bin", expr(s"cum_before div ${targetBytes}L"))
      .drop("cum_before")
    val stats = binned.groupBy(col("source"), col("bin"))
      .agg(sum(col("bytes")).as("bin_bytes"),
        count(lit(1)).as("bin_shards"))
    binned.join(stats, Seq("source", "bin"))
      .select(col("source"), col("shard_id"), col("bytes"), col("bin"),
        col("bin_bytes"), col("bin_shards"),
        expr(s"1000000 * bin_bytes div ${targetBytes}L").as("fill_ppm"))
  }

  /** Snapshot retention / expiry planning — p13's maintenance sibling
    * and the PLAN step of Iceberg's expireSnapshots: a snapshot expires
    * iff `committed_ts < olderThanTs` AND it is not among the
    * `retainLast` most recent (the rescue clause — time-travel depth is
    * guaranteed even when the age cutoff would cut into it; pinned by a
    * unit case where retain_last saves an over-age snapshot). Both
    * clauses keep a time-SUFFIX, so survivors are contiguous-recent —
    * which is what makes reclaim attribution a scalar compare instead
    * of an interval anti-join: a file whose live range is
    * [first_snap, last_snap] is referenced only by expired snapshots
    * iff its last_snap itself expired. Per snapshot: recency rank,
    * expired verdict, and the files/bytes that expiry frees (attributed
    * to the file's last referencing snapshot; kept snapshots reclaim
    * 0/0 — expiring a snapshot whose files live on in later snapshots
    * frees METADATA only, the classic Iceberg misunderstanding this
    * table makes inspectable).
    *
    * Scale shape: metadata-plane (the p13 principle) — the global
    * recency window ranks the SNAPSHOT ledger (10^2..10^4 rows on any
    * real table; the data plane never moves), the per-file rollup is
    * one map-side-combined groupBy on last_snap, and the join keys two
    * snapshot-cardinality tables (AQE broadcasts).
    */
  def retentionPlan(snapshots: DataFrame, files: DataFrame,
                    olderThanTs: Long, retainLast: Int): DataFrame = {
    require(retainLast >= 1, "retainLast must be >= 1")
    val w = Window.orderBy(col("committed_ts").desc, col("snap_id").desc)
    val ranked = snapshots
      .select(col("snap_id").cast("int").as("snap_id"),
        col("committed_ts").cast("long").as("committed_ts"))
      .withColumn("recency_rank", row_number().over(w))
      .withColumn("expired",
        col("committed_ts") < lit(olderThanTs) &&
          col("recency_rank") > lit(retainLast))
    val rec = files
      .select(col("last_snap").cast("int").as("snap_id"),
        col("bytes").cast("long").as("bytes"))
      .groupBy(col("snap_id"))
      .agg(count(lit(1)).as("nf"), sum(col("bytes")).as("bf"))
    ranked.join(rec, Seq("snap_id"), "left")
      .select(col("snap_id"), col("committed_ts"), col("recency_rank"),
        col("expired"),
        when(col("expired"), coalesce(col("nf"), lit(0L)))
          .otherwise(lit(0L)).as("n_files_reclaimed"),
        when(col("expired"), coalesce(col("bf"), lit(0L)))
          .otherwise(lit(0L)).as("bytes_reclaimed"))
  }

  /** Per-epoch shard-order plan — the data-order primitive a trainer
    * consumes each epoch: re-visiting shards in the SAME order every
    * epoch correlates gradient noise with shard content (the classic
    * no-reshuffle bug), so each epoch gets its own deterministic
    * permutation, keyed like everything in this repo by md5
    * (h60("eo:" || epoch || ":" || shard), ties by shard_id) — a pure
    * function of (epoch, shard), so every worker derives the same
    * order with ZERO coordination and any epoch is reproducible after
    * the fact (which row-level RNG shuffles are not). Positions within
    * an epoch are a permutation of 0..S-1 (pinned), epochs differ
    * (pinned at the given sizes), and composition with p11's
    * within-shard curriculum order is the trainer's full data order.
    *
    * Scale shape: metadata-plane (the p13/p14 principle) — rows are
    * (epoch, shard) pairs (~10^5 at 10^4 shards × 10 epochs); the
    * per-epoch rank window runs over the SHARD LEDGER, never data.
    */
  def epochShardOrder(shards: DataFrame, epochs: Int = 4): DataFrame = {
    require(epochs >= 1, "epochs must be >= 1")
    val g = shards.select(col("shard_id").cast("long").as("shard_id"))
      .select(col("shard_id"),
        explode(expr(s"sequence(0, ${epochs - 1})")).as("epoch"))
      .withColumn("k", h60(concat(lit("eo:"), col("epoch").cast("string"),
        lit(":"), col("shard_id").cast("string"))))
    g.withColumn("position", row_number().over(
        Window.partitionBy(col("epoch")).orderBy(col("k"), col("shard_id"))) - 1)
      .select(col("epoch").cast("int").as("epoch"), col("shard_id"),
        col("position").cast("int").as("position"))
  }

  /** Orphan-file audit — p14's storage-plane complement and the PLAN
    * step of Iceberg's remove_orphan_files, generalized to the full
    * four-way verdict a lakehouse integrity sweep wants: `ok`
    * (observed on storage AND referenced by metadata), `orphan`
    * (observed, unreferenced, AND older than the grace cutoff —
    * reclaimable), `in_flight` (observed, unreferenced, but YOUNGER
    * than the cutoff: an uncommitted writer's file that a naive sweep
    * would delete out from under it — the grace window is load-bearing,
    * not cosmetic, pinned by the boundary case), and `missing`
    * (referenced but NOT observed — the verdict remove_orphan_files
    * doesn't give you, and the one that matters most: a referenced
    * file absent from storage is table corruption, surfaced here as
    * data instead of a read-time exception).
    *
    * Scale shape: metadata-plane — both sides are file manifests
    * (~10^6 rows at 100 TB / 100 MB files), FULL-OUTER joined on the
    * path key after each side projects to (path[, ts]); the data plane
    * is never touched. The observed side arrives pre-distinct from a
    * storage listing; the referenced side dedups map-side.
    *
    * Precondition when the observed listing covers a [[graft.spark.LakehouseIO]]
    * table root: run `repairCompaction` FIRST. A crash between a swap's
    * two renames strands COMMITTED data in `_maintenance/trash-N` —
    * old mtimes, no metadata reference — which this audit would verdict
    * `orphan` and a sweep acting on the plan would delete; after repair
    * the path either holds nothing or a superseded copy that is
    * genuinely reclaimable.
    */
  def orphanPlan(observed: DataFrame, referenced: DataFrame,
                 graceTs: Long): DataFrame = {
    val obs = observed.select(col("path"),
      col("modified_ts").cast("long").as("modified_ts"),
      lit(true).as("observed"))
    val ref = referenced.select(col("path")).distinct()
      .withColumn("referenced", lit(true))
    obs.join(ref, Seq("path"), "full_outer")
      .select(col("path"), col("modified_ts"),
        coalesce(col("observed"), lit(false)).as("observed"),
        coalesce(col("referenced"), lit(false)).as("referenced"),
        when(coalesce(col("observed"), lit(false)) &&
          coalesce(col("referenced"), lit(false)), lit("ok"))
          .when(!coalesce(col("observed"), lit(false)), lit("missing"))
          .when(col("modified_ts") < lit(graceTs), lit("orphan"))
          .otherwise(lit("in_flight")).as("verdict"))
  }

  def curriculumSchedule(docs: DataFrame, thresholds: Seq[Int] = Seq(32, 64),
                         nShards: Int = 16): DataFrame = {
    require(thresholds.nonEmpty && thresholds == thresholds.sorted.distinct,
      "thresholds must be non-empty, strictly increasing")
    require(nShards > 0 && (nShards & (nShards - 1)) == 0 && nShards <= (1 << 30),
      "nShards must be a power of two")
    val shardBits = 31 - Integer.numberOfLeadingZeros(nShards)
    val band = thresholds.map(t => when(col("n_words") >= t, 1).otherwise(0))
      .reduce(_ + _)
    val keyed = docs.filter(trim(col("text")) =!= "")
      .select(col("doc_id"), size(words(col("text"))).as("n_words"),
        h60(concat(lit("cur:"), col("doc_id").cast("string"))).as("k"))
      .withColumn("band", band.cast("int"))
      .withColumn("shard", shiftright(col("k"), 60 - shardBits).cast("int"))
    val byCell = Window.partitionBy(col("band"), col("shard"))
      .orderBy(col("k"), col("doc_id"))
    val offsets = keyed.groupBy("band", "shard").agg(count(lit(1)).as("n"))
      .withColumn("offset", // bands*nShards rows: single-partition window is fine
        coalesce(sum(col("n")).over(
          Window.orderBy(col("band"), col("shard"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("band", "shard", "offset")
    keyed
      .withColumn("rn", row_number().over(byCell))
      .join(broadcast(offsets), Seq("band", "shard"))
      .select(col("doc_id"), col("n_words"), col("band"),
        (col("offset") + col("rn") - 1).as("step"))
  }

  /** Approximate distinct-count sketch — HyperLogLog (Flajolet et al.
    * 2007) over the corpus's 3-word shingle stream, per language plus a
    * max-merged global `'*'` row. The cardinality companion of the CMS
    * frequency sketch ([[cmsHeavyHitters]]): "how many distinct shingles
    * does this crawl hold per language" is the dedup-planning /
    * corpus-growth signal (shingle cardinality ~ near-dup workload), and
    * an exact `count(distinct)` at 10^12 docs is a full shuffle of the
    * distinct-key set, while the sketch is `m` bytes of state, period.
    *
    * Determinism contract (the repo rule: every operator reproduces in
    * DuckDB bit-for-bit): the hash is the shared md5 [[h60]]; low `p`
    * bits pick the register, rho = leading-zero rank of the remaining
    * 60-p bits computed via `length(bin(x))` (identical in both
    * engines); registers aggregate as `max` (associative+commutative ⇒
    * map-side combined, and the '*' row IS the sketch-merge operation —
    * max per register — so distributed mergeability is pinned by the
    * oracle itself). The harmonic term stays EXACT-INTEGER: with
    * R = 60-p rank bits, `sum_j 2^-M_j = T / 2^(R+1)` where
    * `T = Σ_present 2^(R+1-r) + empty·2^(R+1)` is a BIGINT; the only
    * floating step is the final single IEEE division
    * `floor(alpha·m²·2^(R+1) / T)` from identical integer inputs —
    * bit-stable across engines (no ln/pow). The small-range linear-
    * counting correction is deliberately omitted (it needs `ln`,
    * transcendental ⇒ not oracle-stable); `empty_buckets` and
    * `harmonic_denom` ride along so a consumer can apply it.
    *
    * Scale shape: the ONLY shuffle carries (lang, bucket, rho) triples,
    * map-side combined to ≤ m rows per lang per task — a 10^12-doc
    * corpus streams through with 2^p bytes of per-task state. At a real
    * deployment the per-PARTITION sketches would merge via
    * `treeAggregate` exactly like the CMS pass; the groupBy form here is
    * the same algebra with Catalyst doing the partial aggregation.
    */
  /** alpha_m * m^2 * 2^(rankBits+1) — the ONE double literal of the HLL
    * estimator, exposed so the oracle SQL interpolates the exact same
    * IEEE value (Scala's toString is the shortest round-trip repr, which
    * DuckDB parses back to the identical double).
    */
  private[graft] def hllAlphaNum(p: Int): Double = {
    val m = 1 << p
    0.7213 / (1 + 1.079 / m) * m.toDouble * m.toDouble * math.pow(2.0, 60 - p + 1)
  }

  def hllDistinct(docs: DataFrame, p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, "p must be in [4, 16]")
    val m = 1 << p
    val rankBits = 60 - p // h60 is a 60-bit hash
    val alphaNum = hllAlphaNum(p)
    val emptyTerm = 1L << (rankBits + 1) // an empty register's 2^(R+1-0)
    val f = docs.filter(length(col("text")) >= 1)
      .select(col("lang"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
    val reg = f
      .select(col("lang"), explode(shingleStream3(col("w"))).as("g"))
      .select(col("lang"), h60(col("g")).as("h"))
      .select(col("lang"), pmod(col("h"), lit(m.toLong)).as("bucket"),
        shiftright(col("h"), p).as("rem"))
      .select(col("lang"), col("bucket"),
        when(col("rem") === 0, lit(rankBits + 1))
          .otherwise(lit(rankBits + 1) - length(bin(col("rem")))).as("rho"))
    // branch point (the p1/p2 persist convention): the per-lang register
    // table feeds BOTH union branches — without the persist the whole
    // corpus-sized shingle+hash pass runs twice (pinned by PlanCheck #41).
    // The table is tiny: ≤ m rows per lang.
    val rg = reg.groupBy("lang", "bucket").agg(max("rho").as("r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val merged = rg.groupBy("bucket").agg(max("r").as("r"))
      .select(lit("*").as("lang"), col("bucket"), col("r"))
    rg.select("lang", "bucket", "r").unionByName(merged)
      .groupBy("lang")
      .agg(count(lit(1)).as("present"),
        sum(expr(s"shiftleft(cast(1 as bigint), ${rankBits + 1} - r)")).as("s"))
      .withColumn("harmonic_denom",
        col("s") + (lit(m.toLong) - col("present")) * lit(emptyTerm))
      .select(col("lang"),
        (lit(m.toLong) - col("present")).cast("int").as("empty_buckets"),
        col("harmonic_denom"),
        floor(lit(alphaNum) / col("harmonic_denom").cast("double"))
          .cast("long").as("est_distinct"))
  }

  /** CCNet-style per-host boilerplate-line removal — the host-CONDITIONED
    * cleanup the global [[paragraphDedup]] can't express: a line that
    * appears on ≥ `ratioPpm` of a host's documents (and on ≥ `minDocs` of
    * them) is that host's template chrome (nav, subscribe banners,
    * copyright footers) and is stripped from every document of the host,
    * while the same string on a DIFFERENT host — below ITS threshold —
    * survives. Thresholds are integer ppm (`df·10^6 ≥ ratioPpm·n_docs`),
    * the repo's transcendental-free rule.
    *
    * Scale shape: detection explodes per-doc DISTINCT line HASHES —
    * (source, 8-byte h) rows, line text never shuffles — map-side
    * combined into per-(host, line) document frequencies; the per-host
    * boilerplate set is tiny (bounded by the host's template diversity,
    * not its page count) and joins back BROADCAST, so the strip pass is
    * map-only: a codegen'd `filter` lambda re-hashing each line against
    * the host's array. At open-web host cardinality the broadcast swaps
    * for a source-bucketed co-located join (the pinned zero-exchange
    * pattern). Output is the t23 hash-compare convention (md5 of the
    * cleaned text, not megabyte rows).
    */
  def hostBoilerplate(docs: DataFrame, minDocs: Int = 2,
                      ratioPpm: Long = 300000L): DataFrame = {
    require(minDocs >= 1, "minDocs must be >= 1")
    require(ratioPpm >= 0 && ratioPpm <= 1000000L, "ratioPpm must be in [0, 1e6]")
    val lines = split(col("text"), "\n")
    val df = docs
      .select(col("source"), explode(array_distinct(lines)).as("line"))
      .select(col("source"), h60(col("line")).as("h"))
      .groupBy("source", "h").agg(count(lit(1)).as("df"))
    val sn = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val bp = df.join(sn, "source")
      .filter(col("df") >= minDocs &&
        col("df") * lit(1000000L) >= lit(ratioPpm) * col("n_docs"))
      .groupBy("source").agg(sort_array(collect_set(col("h"))).as("bph"))
    docs.join(broadcast(bp), Seq("source"), "left")
      .select(col("doc_id"), lines.as("ls"), col("bph"))
      .select(col("doc_id"), col("ls"),
        filter(col("ls"), l =>
          !coalesce(array_contains(col("bph"), h60(l)), lit(false))).as("cls"))
      .select(col("doc_id"),
        size(col("ls")).cast("int").as("n_lines"),
        (size(col("ls")) - size(col("cls"))).cast("int").as("n_removed"),
        md5(array_join(col("cls"), "\n")).as("clean_md5"))
  }

  /** Group-aware train/val/test split — hash-split by GROUP (host), not
    * by document: same-host pages share templates, boilerplate and
    * near-duplicate content, so a per-doc split leaks train content into
    * eval (the classic contamination-by-construction bug); keying the
    * split on `h60("sp:" || group)` puts every document of a host in ONE
    * split, and the assignment is a pure function of the group key —
    * stable across runs, reshards, and corpus growth (new docs of a
    * known host land in its existing split). Fractions are integer ppm.
    * MAP-ONLY, zero shuffle; leakage-freedom is structural, not checked.
    */
  def splitByGroup(docs: DataFrame, groupCol: String = "source",
                   valPpm: Long = 100000L, testPpm: Long = 100000L): DataFrame = {
    require(valPpm >= 0 && testPpm >= 0 && valPpm + testPpm <= 1000000L,
      "valPpm/testPpm must be nonnegative and sum to <= 1e6")
    val b = pmod(h60(concat(lit("sp:"), col(groupCol))), lit(1000000L))
    docs.select(col("doc_id"), col(groupCol),
      when(b < testPpm, "test")
        .when(b < testPpm + valPpm, "val")
        .otherwise("train").as("split"))
  }

  /** Intra-document repeated-window removal — the WITHIN-doc half of the
    * repetition story ([[repetitionStats]] measures it, [[paragraphDedup]]
    * dedupes ACROSS docs; this op strips it): generated/spammy pages
    * repeat the same block dozens of times, and Gopher/CCNet-class
    * pipelines drop or trim such spans before training. Keeps the FIRST
    * occurrence of each /`paraWords` window within the doc (the d11 /8
    * window convention), drops later repeats. Entirely MAP-ONLY — an
    * indexed `filter` lambda testing membership in the window prefix,
    * O(windows²) per doc (bounded by doc length, never corpus size),
    * zero shuffle; output is the t23 hash-compare convention.
    */
  def selfDedup(docs: DataFrame, paraWords: Int = 8): DataFrame = {
    require(paraWords >= 1, "paraWords must be >= 1")
    docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"), paraChunks(words(col("text")), paraWords).as("ch"))
      .select(col("doc_id"), col("ch"),
        filter(col("ch"),
          (c, i) => !array_contains(slice(col("ch"), lit(1), i), c)).as("kept"))
      .select(col("doc_id"),
        size(col("ch")).cast("int").as("n_windows"),
        size(col("kept")).cast("int").as("n_kept"),
        md5(array_join(col("kept"), " ")).as("clean_md5"))
  }

  /** Corpus text normalization — the ftfy-class cleanup stage every
    * pipeline runs before analysis (the kernel's Canonicalizer owns NFC
    * for OUR extractions; this is the corpus-level scrub applied to
    * third-party text): a fixed, ordered, SQL-mirrorable transform chain —
    *   1. strip C0 control chars + DEL (keeping \t \n \r),
    *   2. drop invisible layout chars (soft hyphen, zero-widths, BOM),
    *   3. straighten curly quotes,
    *   4. collapse space/tab runs to one space, trim.
    * MAP-ONLY, all codegen'd built-ins (regexp_replace/translate), zero
    * shuffle. Output carries lengths + md5 of the normalized text rather
    * than the text itself (hash compare, no megabyte rows), plus a
    * `changed` flag — the fraction changed is the run-health signal
    * (spikes when an upstream starts leaking mojibake/controls).
    */
  /** The t23 transform chain as a column expression — exposed so the
    * idempotence property (normalize∘normalize == normalize, the defining
    * invariant of a cleanup pass) is testable on the actual expression.
    */
  private[graft] def normalizeExpr(raw: Column): Column = {
    val t1 = regexp_replace(raw, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val t2 = regexp_replace(t1, "[\\x{00AD}\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]", "")
    val t3 = translate(t2, "‘’“”", "''\"\"")
    trim(regexp_replace(t3, "[ \\t]+", " "))
  }

  def normalizeText(docs: DataFrame): DataFrame = {
    val raw = col("text")
    val t4 = normalizeExpr(raw)
    docs.filter(length(raw) >= 1)
      .select(col("doc_id"), length(raw).as("n_raw"), length(t4).as("n_norm"),
        md5(t4).as("norm_md5"), (md5(t4) =!= md5(raw)).as("changed"))
  }

  /** Model-based quality classifier — the CCNet/DCLM-class pipeline stage
    * "train a linear classifier against a reference corpus; keep documents
    * it scores high", as distinct from t2's hand-rolled signals and t14's
    * hard rules. Features are the HASHING TRICK: token -> one of
    * `nBuckets` hashed feature buckets, so the model is a fixed-size
    * weight vector regardless of vocabulary growth.
    *
    * Training is real and runs in ONE map-side-combined pass: per-class
    * bucket frequencies in ppm (integer div — the repo's
    * transcendental-free oracle rule), weight = ppm_pos - ppm_neg (a
    * Rocchio/centroid-difference linear model). The `nBuckets`-row weight
    * vector collects to the driver and inlines as a map literal (the t12
    * broadcast pattern); SCORING is then map-only, zero shuffle: score =
    * sum of bucket weights over the document's tokens, keep = score >= 0.
    *
    * The 'en'-vs-rest label is the sandbox stand-in for the
    * reference-vs-crawl label a production filter trains on (CCNet:
    * Wikipedia vs Common Crawl); the train/serve plumbing — hashed
    * features, two-level aggregation, broadcast weights, map-only
    * inference — is the real, oracle-checked part.
    */
  def qualityClassifier(docs: DataFrame, nBuckets: Int = 256): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    def bucket(t: Column): Column =
      pmod(h60(concat(lit("qc:"), t)), lit(nBuckets.toLong))
    val toks = docs.filter(length(col("text")) >= 1)
      .select((col("lang") === "en").as("pos"),
        explode(words(col("text"))).as("t"))
      .select(col("pos"), bucket(col("t")).as("b"))
    val counts = toks.groupBy("pos", "b").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy("pos").agg(sum("c").as("n"))
    val weights: Map[Long, Long] = counts.join(totals, "pos")
      .select(col("b"), col("pos"), expr("(1000000 * c) div n").as("ppm"))
      .groupBy("b")
      .agg(sum(when(col("pos"), col("ppm")).otherwise(-col("ppm"))).as("wt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m = typedLit(weights)
    docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), size(col("w")).as("n_tokens"),
        aggregate(col("w"), lit(0L),
          (acc, t) => acc + coalesce(element_at(m, bucket(t)), lit(0L)))
          .as("score"))
      .withColumn("keep", col("score") >= 0L)
  }

  /** Rolling-window cross-document duplication — the exact-substring-
    * dedup signal of Lee et al. 2021 ("Deduplicating Training Data Makes
    * Language Models Better") at word granularity: EVERY position opens a
    * `win`-word window (stride 1 — unlike d11's disjoint /8 chunks, which
    * miss duplicated spans straddling chunk boundaries), and a window is
    * duplicated iff the same word sequence occurs in at least one OTHER
    * document (within-doc repetition is t6's signal). Per doc: window
    * count, cross-doc duplicated window count, and dup_ppm — the curation
    * signal a pipeline thresholds to drop or trim template-heavy docs.
    *
    * Scale shape: windows explode MAP-SIDE into (16-byte md5, doc_id)
    * rows — text never shuffles; the dup-hash table is one map-combined
    * aggregation (distinct-doc count >= 2 on the hash key); the per-doc
    * rollup joins hash-keyed (key-only traffic). At 10^12 docs the
    * stride-1 window table is ~|tokens| rows — the d13 bloom / t21 CMS
    * pre-filters compose in front of the exact join unchanged. The window
    * explode is deliberately RECOMPUTED for the rollup pass rather than
    * persisted: it is pure map work over the scan, and caching a
    * corpus-sized intermediate costs more than replaying it (the inverse
    * of the p1/p2 branch-point rule, which persists only post-reduction
    * frames).
    */
  def substringDup(docs: DataFrame, win: Int = 8): DataFrame = {
    require(win >= 1, "win must be >= 1")
    val base = docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"), words(col("text")).as("w"))
    val windows = base.filter(size(col("w")) >= win)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(w) - $win), i -> md5(array_join(slice(w, i + 1, $win), ' ')))"))
        .as("h"))
    val dupHashes = windows.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("h")
    val perDoc = windows.join(dupHashes, "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    base.select(col("doc_id"),
        greatest(size(col("w")) - win + 1, lit(0)).as("n_windows"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_ppm",
        when(col("n_windows") > 0, expr("(1000000 * n_dup) div n_windows"))
          .otherwise(lit(0L)))
  }

  // ---------------------------------------------------- tokenizer training

  /** Distributed BPE tokenizer training — the first `nMerges` merge rules
    * of byte-pair encoding (Sennrich et al. 2016) learned from the corpus.
    * This is the tokenizer-training step of a pretraining pipeline, and it
    * distributes exactly the way production BPE trainers do:
    *
    *   - Phase 1 collapses the corpus to its WORD-FREQUENCY table — the
    *     only corpus-sized pass (one map-side-combined shuffle of
    *     (word, count)). Every later iteration runs over the vocabulary,
    *     which by Heaps' law is orders of magnitude smaller than the
    *     corpus; it is persisted once.
    *   - Each iteration counts adjacent SYMBOL PAIRS weighted by word
    *     count (map-side combined again — shuffle carries one row per
    *     distinct pair per task), takes the argmax with a deterministic
    *     tie order (count DESC, then (left, right) ASC), and applies the
    *     merge MAP-ONLY. The one-row argmax collect per iteration is the
    *     algorithm's inherent sync point — real trainers batch several
    *     non-interacting merges per pass; the per-merge structure here
    *     keeps the oracle an exact CTE unroll.
    *
    * Words are restricted to `^[a-z]+$` so the symbol alphabet is closed
    * under merging and symbols never contain the '(' ')' framing below.
    * A word's symbol sequence is encoded as a wrapped string
    * "(h)(e)(l)(l)(o)"; applying merge (l,r) is the literal string
    * replace "(l)(r)" -> "(lr)", whose left-to-right non-overlapping
    * semantics IS greedy BPE merge application ("aaaa" + (a,a) ->
    * "(aa)(aa)") — and is identical in Spark and DuckDB, so the oracle
    * reproduces every iteration bit-for-bit.
    *
    * Returns the learned merge table (rank, lhs, rhs, pair_count) — K
    * rows, built driver-side from the K argmax rows.
    */
  def bpeMerges(docs: DataFrame, nMerges: Int = 4): DataFrame = {
    require(nMerges >= 1 && nMerges <= 65536, "nMerges must be in [1, 65536]")
    val spark = docs.sparkSession
    // Lineage checkpoint interval: each merge iteration appends a
    // replace() projection to the vocab plan, and without truncation a
    // realistic 32k-merge vocabulary gives O(k) plan depth RE-ANALYZED
    // per iteration (O(k^2) total Catalyst work). Every `ckptEvery`
    // merges the accumulated chain is materialized via localCheckpoint
    // (the d10/e23 power-iteration pattern) so plan depth is bounded by
    // the interval while results stay bit-identical — the vocab table
    // is Heaps-law small (distinct words, not docs), so the
    // materialization is cheap relative to the per-iteration argmax.
    val ckptEvery = 32
    val vocab = docs.filter(length(col("text")) >= 1)
      .select(explode(words(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(regexp_replace(col("word"), "(.)", "($1)").as("s"), col("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var cur = vocab
    var lastCkpt: DataFrame = null
    var k = 1
    var exhausted = false
    while (k <= nMerges && !exhausted) {
      // adjacent pairs of the symbol array, weighted by word count
      val top = cur
        .select(split(regexp_replace(col("s"), "^\\(|\\)$", ""), "\\)\\(").as("a"),
          col("cnt"))
        .filter(size(col("a")) >= 2) // sequence(0,-1) would DESCEND, not empty
        .select(explode(expr(
          "transform(sequence(0, size(a) - 2), i -> struct(a[i] AS l, a[i+1] AS r))"))
          .as("p"), col("cnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((k, l, r, c))
        // map-only merge application; symbols are [a-z]+ so the literal is safe
        cur = cur.select(
          expr(s"replace(s, '($l)($r)', '($l$r)')").as("s"), col("cnt"))
        if (k % ckptEvery == 0) {
          val next = cur.localCheckpoint() // eager: truncates the replace chain
          if (lastCkpt != null) lastCkpt.unpersist(blocking = false)
          lastCkpt = next
          cur = next
        }
        k += 1
      }
    }
    if (lastCkpt != null) lastCkpt.unpersist(blocking = false)
    vocab.unpersist(blocking = false)
    import spark.implicits._
    merges.result().toDF("rank", "lhs", "rhs", "pair_count")
  }

  /** BPE tokenizer APPLICATION — the serving side of [[bpeMerges]], and
    * the composed learn-then-tokenize pipeline: learn `nMerges` rules,
    * collect the (tiny) merge table to the driver, inline the replace
    * chain into a map-only expression (the t12 broadcast pattern), and
    * tokenize every document — per word: wrap to symbols, apply the
    * merges IN LEARNED ORDER (each a literal "(l)(r)" -> "(lr)" replace,
    * greedy by construction), count resulting symbols. Only `[a-z]+`
    * words tokenize (the alphabet the merges were learned on); `n_words`
    * counts all words. After the learn phase the scoring pass is
    * MAP-ONLY — zero shuffle, all codegen'd string built-ins.
    */
  def bpeTokenize(docs: DataFrame, nMerges: Int = 4): DataFrame = {
    val merges = bpeMerges(docs, nMerges).collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2)))
    def bpeCount(x: Column): Column = {
      val wrapped = regexp_replace(x, "(.)", "($1)")
      val merged = merges.foldLeft(wrapped) { case (c, (l, r)) =>
        org.apache.spark.sql.functions.replace(c, lit(s"($l)($r)"), lit(s"($l$r)"))
      }
      // symbols never start/end with parens, so trim strips exactly the frame
      size(split(trim(merged, "()"), "\\)\\("))
    }
    docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), size(col("w")).as("n_words"),
        aggregate(filter(col("w"), x => x.rlike("^[a-z]+$")), lit(0L),
          (acc, x) => acc + bpeCount(x).cast("long")).as("n_bpe_tokens"))
  }

  /** Corpus datasheet — the one-row release artifact every published
    * corpus ships (Datasheets for Datasets, Gebru et al.): size, token
    * and vocabulary counts, mean document length, exact-duplicate rate,
    * quality keep rate (the t14 gate bundle), and the dominant language.
    * Pure COMPOSITION of the library's own aggregates — each signal
    * reduces to a scalar frame, scalars cross-join into one row (every
    * join side is one row; no data-sized join anywhere), and integer-ppm
    * arithmetic keeps the oracle bit-exact.
    *
    * The input is the BRANCH POINT (the p1/p2 convention): four aggregate
    * trees consume it, so without the persist any upstream derivation
    * (augmentation, a prior pipeline stage) re-runs once per signal. At
    * lakehouse scale the input is a materialized table and the persist
    * degenerates to four column-pruned scans of the same files — both
    * shapes are one pass per signal over cached bytes, never a re-parse.
    */
  def corpusDatasheet(docs: DataFrame): DataFrame = {
    val d = docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val cs = corpusStats(d).select("n_docs", "n_tokens", "vocab_size")
    val dup = dedupExact(d).agg(
      count(lit(1)).as("n_distinct"), sum("n_copies").as("n_total"))
    val keep = qualityRules(d).agg(
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
      count(lit(1)).as("n_rated"))
    val lg = d.filter(length(col("text")) >= 1)
      .groupBy("lang").agg(count(lit(1)).as("c"))
      .agg(min(struct((-col("c")).as("nc"), col("lang").as("lg"))).as("m"))
      .select(col("m.lg").as("top_lang"), (-col("m.nc")).as("top_lang_docs"))
    cs.crossJoin(dup).crossJoin(keep).crossJoin(lg).select(
      col("n_docs"), col("n_tokens"), col("vocab_size"),
      expr("n_tokens div n_docs").as("mean_doc_tokens"),
      expr("(1000000 * (n_total - n_distinct)) div n_total").as("exact_dup_ppm"),
      expr("(1000000 * n_keep) div n_rated").as("quality_keep_ppm"),
      col("top_lang"), col("top_lang_docs"))
  }

  // ---------------------------------------------------- multimodal stub

  /** Opaque-binary feature extraction through typed mapPartitions — the
    * multimodal plumbing pattern (binary payload column + per-executor
    * decoder). The "decoder" here is a clearly-marked deterministic STUB
    * (no image/audio libraries exist in this environment): it computes
    * real byte-level features (length, md5) and a fake modality tag.
    * The Spark-side shape — binary column in, typed struct out, heavy
    * init once per partition — is the real, tested part.
    */
  /** Frame sampling — the video/audio ROW-EXPLOSION plumbing pattern: one
    * payload row flatMaps into many frame rows through a LAZY iterator
    * (no per-doc frame list ever materializes — a 2 h video at scale
    * streams its frames through the task). Per-partition decoder init,
    * like [[binaryFeatures]]; the "decode" is the honest stub (frames are
    * fixed-length char windows at a stride; a real decoder would seek
    * keyframes), the Spark-side shape — typed flatMap, bounded memory,
    * deterministic frame ids — is the real, oracle-checked part.
    *
    * Frames are CHAR windows (not bytes) so the DuckDB oracle reproduces
    * them with substr(); corpus is BMP-only (surrogate pairs would split
    * differently between Java UTF-16 and code-point substr — a real
    * binary decoder wouldn't have this caveat).
    */
  def frameSample(spark: SparkSession, docs: DataFrame,
      frameLen: Int = 256, stride: Int = 512): DataFrame = {
    import spark.implicits._
    require(frameLen > 0 && stride > 0, "frameLen and stride must be positive")
    docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .filter(r => r._2 != null && r._2.nonEmpty)
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5") // per-partition init
        it.flatMap { case (id, text) =>
          val n = text.length
          val frames = (n + stride - 1) / stride
          (0 until frames).iterator.map { f =>
            val s = text.substring(f * stride, math.min(f * stride + frameLen, n))
            digest.reset()
            val h = digest.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
            (id, f, h, s.length)
          }
        }
      }
      .toDF("doc_id", "frame_idx", "frame_md5", "frame_chars")
  }

  def binaryFeatures(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init (the real decoder would load its model here)
        val digest = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bytes) =>
          val payload = if (bytes == null) Array.emptyByteArray else bytes
          digest.reset()
          val h = digest.digest(payload).map("%02x".format(_)).mkString
          // STUB modality classifier: deterministic fake (parity-of-length)
          val modality =
            if (payload.isEmpty) "empty" else if (payload.length % 2 == 0) "image" else "audio"
          (id, payload.length.toLong, h, modality)
        }
      }
      .toDF("doc_id", "n_bytes", "content_md5", "modality")
  }

  /** The row shape of the entry walkers (png, jpeg, mp3, zstd, ebml,
    * ogg, tfrecord, avro, zip, tar, tiff): one row per entry, each
    * carrying the payload-level `head` (doc_id, status, ...), or — when
    * the walk found no entries — one row whose entry columns are all
    * NULL, so every payload surfaces. [[entryFrame]] flattens the pair
    * into columns.
    */
  private def entryRows[H, E](head: H, es: Iterable[E]): Iterable[(H, Option[E])] =
    if (es.isEmpty) Seq((head, None)) else es.map(e => (head, Some(e)))

  private def entryFrame(rows: Dataset[_], names: String*): DataFrame =
    rows.select(col("_1.*"), col("_2.*")).toDF(names: _*)

  /** The 8-byte PNG signature, one char per byte. */
  private final val PngSignature = "\u0089PNG\r\n\u001a\n"

  /** WARC record splitting (ISO 28500) — the byte-level primitive every
    * Common-Crawl pipeline starts at: a segment blob holds concatenated
    * `WARC/1.0` records (`header CRLFCRLF payload CRLFCRLF`), and the
    * parser walks them by honoring `Content-Length` — NEVER by searching
    * for the magic, which legally appears inside payloads — emitting per
    * record its BYTE OFFSET in the segment (what a CDX index stores: a
    * capture is addressed as (file, offset, length) for random access),
    * target URI, declared length, payload md5, and a status
    * (`ok` / `truncated` / `malformed`; error-as-data, the e3 taxonomy
    * rule — one bad record never kills a segment task).
    *
    * This is the m1 opaque-binary pattern grown up: typed
    * `mapPartitions` over `(segment_id, bytes)` with per-partition
    * digest init, imperative single-pass scan (no regex over megabyte
    * blobs; header fields parse from the bounded header slice only),
    * content bytes never copied except the digest read. Scale shape:
    * segments are the parallelism unit exactly as in production (a WARC
    * file ~1 GB ⇒ one task), output rows are pointer-sized — the scan
    * is map-only, zero shuffle.
    */
  /** First index of `pat` in `b` at or after `from`, or -1 — shared by
    * the WARC walkers ([[warcRecords]], [[warcHttpRecords]]).
    */
  private def findBytes(b: Array[Byte], pat: Array[Byte], from: Int): Int = {
    var i = from
    val last = b.length - pat.length
    while (i <= last) {
      var j = 0
      while (j < pat.length && b(i + j) == pat(j)) j += 1
      if (j == pat.length) return i
      i += 1
    }
    -1
  }

  private val warcUriRe = "(?m)^WARC-Target-URI: (.*)$".r
  private val warcLenRe = "(?m)^Content-Length: (\\d+)$".r

  /** The WARC record header `b(off until he)` (`he` = its blank line),
    * parsed once for the three WARC walkers: (target URI or null,
    * declared Content-Length, fault). The fault is null when the header
    * names its version, URI and length and the payload plus `trailer`
    * bytes fit after the blank line; `malformed` when one is missing;
    * `truncated` when the declared length overruns the bytes. The length
    * reads as a `Long` (one too long for a `Long` saturates) and is
    * checked with [[ByteCursor.fits]], so no declaration can wrap; a
    * truncated record's `content_length` column saturates at
    * `Int.MaxValue`.
    */
  private def warcHeader(b: Array[Byte], off: Int, he: Int, trailer: Int): (String, Long, String) = {
    val header = new String(b, off, he - off, "UTF-8")
    val uri = warcUriRe.findFirstMatchIn(header).map(_.group(1)).orNull
    val len = warcLenRe.findFirstMatchIn(header)
      .fold(-1L)(_.group(1).toLongOption.getOrElse(Long.MaxValue))
    val c = new ByteCursor(b)
    val fault =
      if (!header.startsWith("WARC/1.0") || uri == null || len < 0) "malformed"
      else if (!c.fits(he + 4, len) || !c.fits(he + 4 + len, trailer)) "truncated"
      else null
    (uri, len, fault)
  }

  def warcRecords(spark: SparkSession, segs: DataFrame): DataFrame = {
    import spark.implicits._
    val CRLF2 = Array[Byte]('\r', '\n', '\r', '\n')
    def find(b: Array[Byte], pat: Array[Byte], from: Int): Int =
      findBytes(b, pat, from)
    segs.select(col("segment_id"), col("warc"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (sid, bytes) =>
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, String, Int, String, String)]
          var off = 0
          var halted = false
          while (!halted && off < bytes.length) {
            val he = find(bytes, CRLF2, off)
            if (he < 0) {
              out += ((sid, off.toLong, null, 0, null, "truncated")); halted = true
            } else {
              // a malformed header leaves the record boundary unknowable —
              // surface it and stop this segment (resync heuristics are a
              // policy choice, not parser ground truth)
              val (uri, len, fault) = warcHeader(bytes, off, he, 4)
              if (fault != null) {
                val cl = if (fault == "malformed") 0 else len.min(Int.MaxValue).toInt
                out += ((sid, off.toLong, uri, cl, null, fault)); halted = true
              } else {
                val (ps, cl) = (he + 4, len.toInt)
                digest.reset()
                digest.update(bytes, ps, cl)
                val md = digest.digest().map("%02x".format(_)).mkString
                out += ((sid, off.toLong, uri, cl, md, "ok"))
                off = ps + cl + 4
              }
            }
          }
          out
        }
      }
      .toDF("segment_id", "rec_offset", "target_uri", "content_length",
        "payload_md5", "status")
  }

  /** Charset sniffing over raw page bytes — the step UPSTREAM of any
    * real extraction kernel (a Common-Crawl payload is bytes, not text;
    * decoding with the wrong charset is the classic mojibake source that
    * t23 then has to scrub). Three detection rungs in HTML5 precedence
    * order:
    *   1. BOM: `EF BB BF` / `FF FE` / `FE FF` — authoritative, overrides
    *      any declaration;
    *   2. meta prescan: the HTML5 encoding-sniffing prescan searches only
    *      the FIRST 1024 BYTES for a `charset=` declaration (simplified
    *      here to any case-insensitive `charset=` attribute in the
    *      window, quoted or bare — the tag-context bookkeeping of the
    *      full prescan is policy, the 1024-byte bound is the contract,
    *      and it's pinned: a declaration beyond the window must NOT be
    *      seen);
    *   3. content: structural UTF-8 validation (continuation classes,
    *      overlong rejection, surrogate rejection, <= U+10FFFF) — valid
    *      payloads detect as utf-8, invalid fall back to windows-1252,
    *      the HTML5 default.
    * Emits the evidence separately (`bom`, `declared`, `utf8_valid`) so
    * downstream policy can differ from the default `detected` verdict.
    * Typed mapPartitions, MAP-ONLY zero shuffle; rungs 1-2 touch at most
    * 1024 bytes + the BOM, only rung 3 reads the whole payload.
    */
  def charsetDetect(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        def validUtf8(b: Array[Byte]): Boolean = {
          var i = 0
          val n = b.length
          var ok = true
          while (ok && i < n) {
            val c = b(i) & 0xff
            if (c < 0x80) i += 1
            else if (c < 0xc2) ok = false // bare continuation / overlong lead
            else if (c < 0xe0) {
              if (i + 1 >= n || (b(i + 1) & 0xc0) != 0x80) ok = false else i += 2
            } else if (c < 0xf0) {
              if (i + 2 >= n) ok = false
              else {
                val c1 = b(i + 1) & 0xff
                if ((c1 & 0xc0) != 0x80 || (b(i + 2) & 0xc0) != 0x80) ok = false
                else if (c == 0xe0 && c1 < 0xa0) ok = false // overlong
                else if (c == 0xed && c1 >= 0xa0) ok = false // surrogate
                else i += 3
              }
            } else if (c < 0xf5) {
              if (i + 3 >= n) ok = false
              else {
                val c1 = b(i + 1) & 0xff
                if ((c1 & 0xc0) != 0x80 || (b(i + 2) & 0xc0) != 0x80 ||
                  (b(i + 3) & 0xc0) != 0x80) ok = false
                else if (c == 0xf0 && c1 < 0x90) ok = false // overlong
                else if (c == 0xf4 && c1 >= 0x90) ok = false // > U+10FFFF
                else i += 4
              }
            } else ok = false
          }
          ok
        }
        def lower(c: Int): Int = if (c >= 'A' && c <= 'Z') c + 32 else c
        // first charset= token in the 1024-byte prescan window, or null
        def prescan(b: Array[Byte]): String = {
          val lim = math.min(b.length, 1024)
          val pat = "charset"
          var i = 0
          var found: String = null
          while (found == null && i + pat.length < lim) {
            var j = 0
            while (j < pat.length && lower(b(i + j) & 0xff) == pat(j)) j += 1
            if (j == pat.length) {
              var p = i + pat.length
              while (p < lim && (b(p) & 0xff) == ' ') p += 1
              if (p < lim && (b(p) & 0xff) == '=') {
                p += 1
                while (p < lim && (b(p) & 0xff) == ' ') p += 1
                val quote = if (p < lim && ((b(p) & 0xff) == '"' || (b(p) & 0xff) == '\'')) b(p) & 0xff else 0
                if (quote != 0) p += 1
                val sb = new StringBuilder
                var stop = false
                while (!stop && p < lim) {
                  val c = b(p) & 0xff
                  if (quote != 0 && c == quote) stop = true
                  else if (quote == 0 && (c == ' ' || c == ';' || c == '>' ||
                    c == '/' || c == '"' || c == '\'')) stop = true // a bare
                  // value inside a quoted content="..." ends at the
                  // enclosing quote, not at the end of the window
                  else { sb.append(lower(c).toChar); p += 1 }
                }
                if (sb.nonEmpty) found = sb.toString
              }
              if (found == null) i += pat.length else ()
            } else i += 1
          }
          found
        }
        it.map { case (id, raw) =>
          val b = new ByteCursor(raw).bytes
          val bom =
            if (b.length >= 3 && (b(0) & 0xff) == 0xef && (b(1) & 0xff) == 0xbb &&
              (b(2) & 0xff) == 0xbf) "utf-8"
            else if (b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xfe) "utf-16le"
            else if (b.length >= 2 && (b(0) & 0xff) == 0xfe && (b(1) & 0xff) == 0xff) "utf-16be"
            else null
          val declared = prescan(b)
          val valid = validUtf8(b)
          val detected =
            if (bom != null) bom
            else if (declared != null) declared
            else if (valid) "utf-8"
            else "windows-1252"
          (id, Option(bom), Option(declared), detected, valid)
        }
      }
      .toDF("doc_id", "bom", "declared", "detected", "utf8_valid")
  }

  /** HTTP response parsing over raw record payloads — the layer between
    * [[warcRecords]] and the page bytes: a WARC `response` record's
    * payload is `status-line CRLF headers CRLFCRLF body`, and WET-style
    * text extraction starts by splitting exactly here. Parses the
    * status line (HTTP version + code), the headers a crawl pipeline
    * routes on — `Content-Type` (with its parameters stripped to the
    * media type) and `Location` (the redirect edge the frontier needs)
    * — and addresses the body (offset, length, md5) WITHOUT copying it.
    * Header-name matching is case-insensitive per RFC 9110; bare-LF
    * separators are accepted alongside CRLF (the lenient mode every
    * real crawler ships, because the web sends both — pinned); first
    * occurrence of a repeated header wins. Error-as-data: `ok` /
    * `truncated` (no blank line — the body never starts) / `malformed`
    * (status line unparseable). Typed mapPartitions, MAP-ONLY zero
    * shuffle; only the header region is ever scanned, the body is
    * touched by the digest alone (the m4 discipline).
    */
  /** Parsed HTTP response region — the shared result of
    * [[parseHttpRegion]]. `bodyOffset` is RELATIVE to the region start.
    */
  private final case class HttpParse(code: Option[Int], ctype: Option[String],
      loc: Option[String], status: String, bodyOffset: Option[Int],
      bodyLen: Option[Int], bodyMd5: Option[String])

  /** HTTP response parse over the byte region `[off, end)` — shared by
    * [[httpResponses]] (whole payload) and [[warcHttpRecords]] (a WARC
    * record's payload slice, parsed IN PLACE: the region bound is the
    * record's declared Content-Length, so the parse can never read its
    * neighbor's bytes, and nothing is copied). A blank "line" formed by
    * a bare CR at the very end of the region is NOT a header terminator
    * (the body would start past the region — `truncated`, not a
    * negative-length digest crash).
    */
  private def parseHttpRegion(digest: java.security.MessageDigest,
      b: Array[Byte], off: Int, end: Int): HttpParse = {
    def lineEnd(from: Int): Int = {
      var i = from
      while (i < end && b(i) != '\n') i += 1
      i // index of \n, or end
    }
    def lineStr(from: Int, nl: Int): String = {
      val e = if (nl > from && b(nl - 1) == '\r') nl - 1 else nl
      new String(b, from, e - from, "ISO-8859-1")
    }
    var status: String = null
    var code: Option[Int] = None
    var ctype: String = null
    var loc: String = null
    var bodyOff: Option[Int] = None
    val nl0 = lineEnd(off)
    val sl = lineStr(off, nl0)
    val slParts = sl.split(" ")
    if (nl0 >= end || !sl.startsWith("HTTP/") || slParts.length < 2 ||
      slParts(1).isEmpty || slParts(1).length > 5 ||
      !slParts(1).forall(_.isDigit)) { // length cap: a 6+-digit "code" is
      // garbage, and toInt on it would throw in the task
      status = "malformed"
    } else {
      code = Some(slParts(1).toInt)
      var p = nl0 + 1
      var done = false
      while (!done && p < end) {
        val nl = lineEnd(p)
        val ln = lineStr(p, nl)
        if (ln.isEmpty) {
          if (nl < end) bodyOff = Some(nl + 1) // a real terminator line;
          // a bare CR at region end never had its \n — headers never end
          done = true
        } else {
          val ci = ln.indexOf(':')
          if (ci > 0) {
            val name = ln.substring(0, ci).trim.toLowerCase
            val value = ln.substring(ci + 1).trim
            if (name == "content-type" && ctype == null)
              ctype = value.split(";")(0).trim.toLowerCase
            else if (name == "location" && loc == null) loc = value
          }
          p = nl + 1
        }
      }
      status = if (bodyOff.isEmpty) "truncated" else "ok"
    }
    val (bl, bh) = bodyOff match {
      case Some(o) =>
        digest.reset(); digest.update(b, o, end - o)
        (Some(end - o), digest.digest().map("%02x".format(_)).mkString)
      case None => (None, null)
    }
    HttpParse(code, Option(ctype), Option(loc), status,
      bodyOff.map(_ - off), bl, Option(bh))
  }

  def httpResponses(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, raw) =>
          val b = new ByteCursor(raw).bytes
          val h = parseHttpRegion(digest, b, 0, b.length)
          (id, h.code, h.ctype, h.loc, h.status, h.bodyOffset, h.bodyLen, h.bodyMd5)
        }
      }
      .toDF("doc_id", "http_status", "content_type", "location", "status",
        "body_offset", "body_len", "body_md5")
  }

  /** The fused Common-Crawl reader: [[warcRecords]]'s Content-Length
    * record walk feeding [[parseHttpRegion]] per record — one pass, one
    * task, zero copies: each WARC record's payload region parses IN
    * PLACE, bounded by the record's declared length, so an HTTP parse
    * can never read its neighbor's bytes (the WARC terminator that
    * follows a truncated HTTP response is provably outside the region —
    * pinned). WARC-level failures halt the segment with `warc_truncated`
    * / `warc_malformed` exactly as in m3; well-formed records carry the
    * HTTP-level verdict (`ok` / `truncated` / `malformed`) instead. This
    * is the production shape: fusing the layers costs one function call
    * per record, while materializing per-record payload rows between
    * them would shuffle the entire crawl body-bytes once for nothing.
    */
  def warcHttpRecords(spark: SparkSession, segs: DataFrame): DataFrame = {
    import spark.implicits._
    val CRLF2 = Array[Byte]('\r', '\n', '\r', '\n')
    segs.select(col("segment_id"), col("warc"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (sid, bytes) =>
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, String, Int, Option[Int], Option[String], Option[String], String)]
          var off = 0
          var halted = false
          while (!halted && off < bytes.length) {
            val he = findBytes(bytes, CRLF2, off)
            if (he < 0) {
              out += ((sid, off.toLong, null, 0, None, None, None, "warc_truncated"))
              halted = true
            } else {
              val (uri, len, fault) = warcHeader(bytes, off, he, 4)
              if (fault != null) {
                val cl = if (fault == "malformed") 0 else len.min(Int.MaxValue).toInt
                out += ((sid, off.toLong, uri, cl, None, None, None, "warc_" + fault))
                halted = true
              } else {
                val (ps, cl) = (he + 4, len.toInt)
                val h = parseHttpRegion(digest, bytes, ps, ps + cl)
                out += ((sid, off.toLong, uri, cl, h.code, h.ctype, h.bodyMd5, h.status))
                off = ps + cl + 4
              }
            }
          }
          out
        }
      }
      .toDF("segment_id", "rec_offset", "target_uri", "content_length",
        "http_status", "content_type", "body_md5", "status")
  }

  /** Deterministic synthetic HTTP response bytes for [[httpResponses]] —
    * kinds by id % 6: a 200 text/html with charset parameter (stripped
    * to the media type), a 301 with Location, a 404 text/plain with
    * bare-LF separators (the lenient-parse pin), a 200 with folded
    * case-variant header names and a repeated Content-Type (first
    * wins), a truncated response (headers never end), and a malformed
    * status line.
    */
  def syntheticHttpPayload(id: Long): Array[Byte] = {
    def a(s: String) = s.getBytes("ISO-8859-1")
    (id % 6) match {
      case 0 => a("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
        s"Server: srv${id % 9}\r\n\r\n<html>doc $id</html>")
      case 1 => a("HTTP/1.1 301 Moved Permanently\r\n" +
        s"Location: https://h${id % 97}.example.com/doc/$id\r\n\r\n")
      case 2 => a(s"HTTP/1.0 404 Not Found\nContent-Type: text/plain\n\nmissing $id")
      case 3 => a("HTTP/1.1 200 OK\r\nCONTENT-TYPE: application/json\r\n" +
        s"Content-Type: text/xml\r\n\r\n{\"doc\": $id}")
      case 4 => a(s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nX-Doc: $id")
      case _ => a(s"not-http doc $id\r\n\r\nbody")
    }
  }

  /** RIFF/WAV header parsing over opaque audio payloads — the audio leg
    * of the multimodal metadata trio ([[imageDims]] for images, the
    * frame-sampling plumbing for video): sample rate, channels, bit
    * depth from the `fmt ` chunk and duration from the `data` chunk
    * size, read by WALKING the RIFF chunk list honoring each chunk's
    * declared size — never scanning for chunk ids (they legally appear
    * inside data) — including the classic RIFF trap: an ODD-sized chunk
    * is followed by a pad byte the size field does not count (pinned by
    * a deliberately odd LIST chunk). Chunk order is NOT assumed (the
    * spec says fmt precedes data; real encoders disagree — pinned by a
    * data-before-fmt payload). duration_ms = 1000·data_size div
    * byte_rate in integer arithmetic. Error-as-data: `ok` /
    * `truncated` (a declared size overruns the payload, or fmt/data
    * never both arrive) / `unknown` (not RIFF/WAVE). Typed
    * mapPartitions, MAP-ONLY zero shuffle; only chunk headers and the
    * 16-byte fmt body are read — a gigabyte WAV costs ~100 bytes.
    */
  def wavHeaders(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, raw) =>
        val c = new ByteCursor(raw)
        var chans: Option[Int] = None
        var rate: Option[Int] = None
        var bits: Option[Int] = None
        var byteRate = 0L
        var dataSize: Option[Long] = None
        val status =
          if (!c.has(0, "RIFF") || !c.has(8, "WAVE")) "unknown"
          else try {
            var i = 12
            while (i < c.length) {
              val cid = c.ascii(i, 4)
              val sz = c.le(i + 4, 4)
              val body = c.need(i + 8, sz)
              if (cid == "fmt " && sz >= 16) {
                chans = Some(c.le(body + 2, 2).toInt)
                rate = Some(c.le(body + 4, 4).toInt)
                byteRate = c.le(body + 8, 4)
                bits = Some(c.le(body + 14, 2).toInt)
              } else if (cid == "data") dataSize = Some(sz)
              // odd chunk: one pad byte NOT counted by the size field
              i = body + sz.toInt + (sz.toInt & 1)
            }
            if (chans.isDefined && dataSize.isDefined) "ok" else "truncated"
          } catch { case ByteCursor.Truncated => "truncated" }
        val ok = status == "ok"
        val dur = if (ok && byteRate > 0) Some(1000L * dataSize.get / byteRate) else None
        (id, if (ok) chans else None, if (ok) rate else None,
          if (ok) bits else None, if (ok) dataSize else None, dur, status)
      }
      .toDF("doc_id", "channels", "sample_rate", "bits", "data_bytes",
        "duration_ms", "status")
  }

  /** Gzip MEMBER splitting — the real Common-Crawl container layer
    * below [[warcRecords]]: a `.warc.gz` is not one gzip stream but a
    * CONCATENATION of members, one per record, precisely so a reader
    * can seek to a CDX offset and inflate a single record without
    * touching the rest of the gigabyte. Walking the members is the
    * hard part: compressed lengths appear NOWHERE in the format, so the
    * boundary is discovered by inflating — header parsed manually
    * (CM=8 required; FEXTRA/FNAME/FCOMMENT/FHCRC optional fields
    * skipped per RFC 1952 — pinned by an FNAME member), raw-deflate
    * Inflater run to `finished()`, consumed bytes counted via
    * `getRemaining`, then the 8-byte CRC32+ISIZE trailer — BOTH
    * verified against the inflated bytes, so a corrupt member is
    * `corrupt`, not silently wrong. REAL decompression, no stub:
    * java.util.zip ships in the JVM. Error-as-data: `ok` / `truncated`
    * (header, deflate stream, or trailer overruns the segment — halts,
    * the next boundary is unknowable) / `malformed` (no gzip magic —
    * halts) / `corrupt` (CRC or ISIZE mismatch — halts; the stream
    * position is untrustworthy). Typed mapPartitions, MAP-ONLY; the
    * inflated bytes go to the digest only, never materialized.
    */
  def gzipMembers(spark: SparkSession, segs: DataFrame): DataFrame = {
    import spark.implicits._
    segs.select(col("segment_id"), col("gz"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (sid, raw) =>
          val c = new ByteCursor(raw)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Int, Long, String, String)]
          var off = 0
          var halted = false
          while (!halted && off < c.length) {
            var total = 0L
            digest.reset()
            gzipMemberAt(c, off, (buf, k) => { digest.update(buf, 0, k); total += k }) match {
              case Right(next) =>
                out += ((sid, out.length, total,
                  digest.digest().map("%02x".format(_)).mkString, "ok"))
                off = next
              case Left(fault) =>
                out += ((sid, out.length, 0L, null, fault)); halted = true
            }
          }
          out
        }
      }
      .toDF("segment_id", "member_idx", "uncompressed_len", "content_md5", "status")
  }

  /** The gzip member walk shared by [[gzipMembers]] and [[ccReader]]:
    * the RFC 1952 header at `off` (CM=8 required; FEXTRA, FNAME,
    * FCOMMENT and FHCRC skipped), the raw deflate stream inflated into
    * `sink` chunk by chunk, then the CRC32 + ISIZE trailer, both checked
    * against the inflated bytes. Right(offset after the trailer), or
    * Left(verdict): `malformed` (no gzip magic, or CM != 8), `truncated`
    * (header, deflate stream or trailer overruns the segment), `corrupt`
    * (bad deflate data, or a CRC or ISIZE mismatch).
    */
  private def gzipMemberAt(c: ByteCursor, off: Int,
      sink: (Array[Byte], Int) => Unit): Either[String, Int] =
    if (c.fits(off, 2) && c.be(off, 2) != 0x1f8bL) Left("malformed")
    else if (!c.fits(off, 10)) Left("truncated")
    else if (c.u8(off + 2) != 8) Left("malformed")
    else try {
      val flg = c.u8(off + 3)
      c.pos = off + 10
      if ((flg & 4) != 0) c.skip(2 + c.le(c.pos, 2)) // FEXTRA
      for (f <- Seq(8, 16) if (flg & f) != 0) { // FNAME, FCOMMENT: zero-terminated
        while (c.u8(c.pos) != 0) c.pos += 1
        c.pos += 1
      }
      if ((flg & 2) != 0) c.skip(2) // FHCRC
      val inf = new java.util.zip.Inflater(true)
      val crc = new java.util.zip.CRC32
      inf.setInput(c.bytes, c.pos, c.length - c.pos)
      val buf = new Array[Byte](8192)
      var total = 0L
      try {
        while (!inf.finished()) {
          val k = inf.inflate(buf)
          if (k > 0) { sink(buf, k); crc.update(buf, 0, k); total += k }
          else if (inf.needsInput()) throw ByteCursor.Truncated
        }
        val trailer = c.need(c.length - inf.getRemaining, 8)
        if (c.le(trailer, 4) != crc.getValue ||
          c.le(trailer + 4, 4) != (total & 0xffffffffL)) Left("corrupt")
        else Right(trailer + 8)
      } catch {
        case _: java.util.zip.DataFormatException => Left("corrupt")
      } finally inf.end()
    } catch {
      case ByteCursor.Truncated => Left("truncated")
    }

  /** THE complete Common-Crawl reader — the full container stack fused
    * in ONE typed pass: gzip member walk ([[gzipMemberAt]]) → inflate →
    * WARC record header at the member start → HTTP response parse over
    * the payload region ([[parseHttpRegion]]). One load-bearing semantic
    * DIFFERENCE from m3's plain-bytes walk: gzip members delimit
    * records, so a malformed WARC header inside one member does NOT
    * halt the segment — the next member boundary is still discoverable
    * by inflation, and the reader continues (pinned); only gzip-level
    * faults halt, because after them the byte position is
    * untrustworthy. The member's inflated bytes are buffered (bounded
    * by ONE record — which must fit in memory to be parsed at all,
    * the same bound every production reader accepts), parsed in place,
    * and dropped; nothing document-sized ever shuffles. Status ladder:
    * `gzip_*` (halt) → `warc_malformed`/`warc_truncated` (per member)
    * → the HTTP verdict (`ok`/`truncated`/`malformed`).
    */
  def ccReader(spark: SparkSession, segs: DataFrame): DataFrame = {
    import spark.implicits._
    segs.select(col("segment_id"), col("gz"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        val CRLF2 = Array[Byte]('\r', '\n', '\r', '\n')
        it.flatMap { case (sid, raw) =>
          val c = new ByteCursor(raw)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Int, String, Option[Int], Option[String], Option[String], String)]
          def verdict(uri: String, st: String): Unit =
            out += ((sid, out.length, uri, None, None, None, st))
          var off = 0
          var halted = false
          while (!halted && off < c.length) {
            val body = new java.io.ByteArrayOutputStream(16384)
            gzipMemberAt(c, off, (buf, k) => body.write(buf, 0, k)) match {
              case Left(fault) => verdict(null, "gzip_" + fault); halted = true
              case Right(next) =>
                // one WARC record per member (the CC convention):
                // parse header, then HTTP over the payload region
                val rec = body.toByteArray
                val he = findBytes(rec, CRLF2, 0)
                // not a record at all: malformed even without a header
                // terminator to point at
                if (!new ByteCursor(rec).has(0, "WARC/1.0")) verdict(null, "warc_malformed")
                else if (he < 0) verdict(null, "warc_truncated")
                else {
                  val (uri, len, fault) = warcHeader(rec, 0, he, 0)
                  if (fault != null) verdict(uri, "warc_" + fault)
                  else {
                    val h = parseHttpRegion(digest, rec, he + 4, he + 4 + len.toInt)
                    out += ((sid, out.length, uri, h.code, h.ctype, h.bodyMd5, h.status))
                  }
                }
                off = next
            }
          }
          out
        }
      }
      .toDF("segment_id", "member_idx", "target_uri", "http_status",
        "content_type", "body_md5", "status")
  }

  /** One deterministic gzip member for [[gzipMembers]] tests/builders:
    * fixed-dictionaryless deflate (default level) of the content, FLG=0
    * header with zeroed MTIME/XFL/OS (byte-stable for a given JVM; the
    * oracle never sees compressed bytes — it checks the DECOMPRESSED
    * md5, which only depends on the content), optional FNAME field.
    */
  def gzipMember(content: Array[Byte], fname: String = null): Array[Byte] = {
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    bb ++= Array[Byte](0x1f.toByte, 0x8b.toByte, 8,
      if (fname != null) 8 else 0, 0, 0, 0, 0, 0, 0)
    if (fname != null) { bb ++= fname.getBytes("ISO-8859-1"); bb += 0 }
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(content); d.finish()
    val buf = new Array[Byte](8192)
    while (!d.finished()) {
      val k = d.deflate(buf)
      bb ++= buf.take(k)
    }
    d.end()
    val crc = new java.util.zip.CRC32
    crc.update(content)
    bb ++= ByteCursor.le(crc.getValue, 4) ++ ByteCursor.le(content.length, 4)
    bb.toArray
  }

  /** Deterministic synthetic WAV bytes for [[wavHeaders]] — kinds by
    * id % 5: a plain PCM file; one with an ODD-sized LIST chunk before
    * fmt (the pad-byte trap); one with data BEFORE fmt plus a JUNK
    * chunk (order independence); a truncated fmt; not-RIFF bytes.
    * Audio params are pure functions of the id for the arithmetic
    * oracle.
    */
  def syntheticWavPayload(id: Long): Array[Byte] = {
    import ByteCursor.le
    def a(s: String) = s.getBytes("US-ASCII")
    val chans = 1 + (id % 2).toInt
    val rate = 8000 * (1 + (id % 4).toInt)
    val bits = 16
    val blockAlign = chans * bits / 8
    val byteRate = rate.toLong * blockAlign
    val nSamples = 100 + (id % 50).toInt
    val data = Array.fill[Byte](nSamples * blockAlign)(0x11)
    def fmt = a("fmt ") ++ le(16, 4) ++ le(1, 2) ++ le(chans, 2) ++ le(rate, 4) ++
      le(byteRate, 4) ++ le(blockAlign, 2) ++ le(bits, 2)
    def dataCk = a("data") ++ le(data.length, 4) ++ data
    def riff(chunks: Array[Byte]) =
      a("RIFF") ++ le(4L + chunks.length, 4) ++ a("WAVE") ++ chunks
    (id % 5) match {
      case 0 => riff(fmt ++ dataCk)
      case 1 => // odd-sized LIST chunk + its pad byte, then fmt/data —
        // a walker ignoring the pad lands off-grid and dies
        val listBody = a("INFOx" * 1).take(5)
        riff(a("LIST") ++ le(listBody.length, 4) ++ listBody ++
          Array[Byte](0) ++ fmt ++ dataCk)
      case 2 => // data first, then a JUNK chunk, then fmt
        val junk = a("JUNK") ++ le(4, 4) ++ Array.fill[Byte](4)(0x22)
        riff(dataCk ++ junk ++ fmt)
      case 3 => riff(fmt).take(20) // cut inside the fmt body
      case _ => a(s"not a riff payload $id")
    }
  }

  /** Deterministic synthetic page bytes for [[charsetDetect]] — test
    * scaffolding covering every detection rung: the three BOMs beat any
    * declaration, quoted/bare/mixed-case meta declarations inside the
    * 1024-byte prescan window, a declaration PAST the window (must not
    * be seen — the prescan bound is the contract), plain valid multibyte
    * UTF-8, and an invalid byte stream that falls back to windows-1252.
    * Kinds by id % 7.
    */
  def syntheticCharsetPayload(id: Long): Array[Byte] = {
    def a(s: String) = s.getBytes("US-ASCII")
    (id % 7) match {
      case 0 => Array(0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
        a(s"<html>doc $id</html>")
      case 1 => Array(0xff.toByte, 0xfe.toByte) ++
        a("h\u0000i\u0000") // utf-16le code units
      case 2 => a(s"""<html><head><META CHARSET="UTF-8"></head><body>doc $id</body></html>""")
      case 3 => a("<html><head><meta http-equiv='Content-Type' " +
        s"content='text/html; charset=ISO-8859-1'></head><body>doc $id</body></html>")
      case 4 => s"café doc $id €".getBytes("UTF-8")
      case 5 => a("caf") ++ Array(0xe9.toByte) ++ a(s" latin doc $id")
      case _ => a("x" * 1100 + s"<meta charset=utf-8><body>doc $id</body>")
    }
  }

  /** Deterministic synthetic image-container bytes for [[imageDims]] —
    * test scaffolding (the m3 segment-builder role): REAL container
    * layouts (PNG signature + IHDR, GIF89a logical-screen descriptor,
    * JPEG marker segments incl. a variable-length COM carrying an
    * embedded `FF D8` and an optional fill byte) with dims a pure
    * function of the id, so the oracle can derive them arithmetically.
    * Kinds by id % 6: png / gif / jpeg / truncated-png / plain-text /
    * jpeg-with-SOS-before-SOF.
    */
  def syntheticImagePayload(id: Long): Array[Byte] = {
    val w = (16 + id % 640).toInt
    val h = (16 + id % 480).toInt
    import ByteCursor.{be, le}
    val pngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    (id % 6) match {
      case 0 => // PNG: signature, IHDR (13-byte body), zero CRC, junk tail
        bb ++= pngSig
        bb ++= be(13, 4); bb ++= "IHDR".getBytes("US-ASCII")
        bb ++= be(w, 4); bb ++= be(h, 4)
        bb ++= Array[Byte](8, 6, 0, 0, 0) // depth, color, comp, filter, interlace
        bb ++= be(0, 4)
        bb ++= s"junk$id".getBytes("US-ASCII")
      case 1 => // GIF89a: 6-byte magic, LE width/height, flags/bg/aspect
        bb ++= "GIF89a".getBytes("US-ASCII")
        bb ++= le(w, 2); bb ++= le(h, 2); bb ++= Array[Byte](0, 0, 0)
        bb ++= s"junk$id".getBytes("US-ASCII")
      case 2 => // JPEG: SOI, APP0/JFIF, COM (variable length, embedded
        // FF D8 magic in the body — must be skipped by LENGTH, never by
        // magic search), optional fill byte, SOF0, EOI
        bb ++= Array(0xff.toByte, 0xd8.toByte)
        bb ++= Array(0xff.toByte, 0xe0.toByte); bb ++= be(16, 2)
        bb ++= "JFIF".getBytes("US-ASCII"); bb += 0; bb ++= Array.fill[Byte](9)(0)
        val com = s"c$id".getBytes("US-ASCII") ++
          Array(0xff.toByte, 0xd8.toByte) ++ Array.fill[Byte]((id % 23).toInt)('x')
        bb ++= Array(0xff.toByte, 0xfe.toByte); bb ++= be(com.length + 2, 2); bb ++= com
        if (id % 4 == 2) bb += 0xff.toByte // fill byte before the next marker
        bb ++= Array(0xff.toByte, 0xc0.toByte); bb ++= be(17, 2)
        bb += 8; bb ++= be(h, 2); bb ++= be(w, 2)
        bb += 3; bb ++= Array.fill[Byte](9)(0)
        bb ++= Array(0xff.toByte, 0xd9.toByte)
      case 3 => // truncated PNG: signature + 4 bytes, IHDR never arrives
        bb ++= pngSig; bb ++= be(13, 4)
      case 5 => // malformed JPEG: SOS with no prior SOF — dims unknowable
        bb ++= Array(0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xda.toByte)
        bb ++= be(4, 2); bb ++= "xx".getBytes("US-ASCII")
      case _ => // not an image at all
        bb ++= s"plain text payload $id".getBytes("US-ASCII")
    }
    bb.toArray
  }

  /** Image-container dimension sniffing over opaque binary payloads —
    * the first REAL multimodal decode step (magic-byte routing was m1's
    * stub; this reads actual container structure, no media library
    * needed): PNG width/height from the IHDR chunk (big-endian, fixed
    * offset after the 8-byte signature), GIF from the logical-screen
    * descriptor (little-endian — the endianness disagreement is exactly
    * what the round-trip oracle pins), and JPEG by WALKING the marker
    * segments to SOFn — JPEG dims are NOT at a fixed offset, and the
    * walk must honor each segment's declared length, never scan for the
    * next `FF` (markers legally appear inside COM/APPn bodies — the m3
    * WARC lesson applied to images; pinned by a planted `FF D8` in a COM
    * body). Fill bytes (runs of `FF` before a marker) are consumed per
    * spec; standalone markers (TEM, RSTn) carry no length field.
    *
    * Error-as-data (the e3 taxonomy): `ok` / `truncated` (magic matched
    * but the header region overruns the payload) / `malformed` (JPEG
    * scan start or EOI reached before any SOF — dims structurally
    * unknowable) / `unknown` (no magic matched). Scale shape: typed
    * mapPartitions over (doc_id, payload), map-only, zero shuffle, only
    * header-region bytes are ever touched — a 10 MB JPEG costs the few
    * hundred bytes before its SOF, which is why this runs as a scan-side
    * metadata pass in a multimodal ingest, not a post-decode job.
    */
  /** Synthetic PNG payloads for [[pngChunks]] — six families keyed by
    * doc_id % 6, every length a pure function of doc_id so the DuckDB
    * oracle re-derives chunk offsets arithmetically:
    *   0: well-formed (IHDR, tEXt, IDAT×2, IEND, junk tail after IEND —
    *      the tail must never be walked);
    *   1: same shape, tEXt CRC corrupted (low bit flipped);
    *   2: truncation, alternating by doc_id div 6 % 2 between a chunk
    *      whose declared length overruns EOF and a partial 3-byte header;
    *   3: length field with the high bit set (invalid per PNG §5.3);
    *   4: not a PNG at all;
    *   5: clean EOF after a complete chunk but no IEND.
    */
  def syntheticPngPayload(id: Long): Array[Byte] = {
    import ByteCursor.be
    def fill(n: Int): Array[Byte] = Array.tabulate(n)(i => (0x61 + i % 13).toByte)
    def chunk(t: String, data: Array[Byte], crcXor: Long = 0L): Array[Byte] = {
      val crc = new java.util.zip.CRC32
      val tb = t.getBytes("US-ASCII")
      crc.update(tb); crc.update(data)
      be(data.length, 4) ++ tb ++ data ++ be(crc.getValue ^ crcXor, 4)
    }
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val tl = (1 + id % 17).toInt
    val dl = (id % 9).toInt
    val ihdr = chunk("IHDR", Array[Byte](0, 0, 0, 16, 0, 0, 0, 16, 8, 6, 0, 0, 0))
    (id % 6) match {
      case 0 => sig ++ ihdr ++ chunk("tEXt", fill(tl)) ++ chunk("IDAT", fill(dl)) ++
        chunk("IDAT", fill(3)) ++ chunk("IEND", Array.emptyByteArray) ++
        s"JUNK$id".getBytes("US-ASCII")
      case 1 => sig ++ ihdr ++ chunk("tEXt", fill(tl), crcXor = 1L) ++
        chunk("IDAT", fill(dl)) ++ chunk("IDAT", fill(3)) ++
        chunk("IEND", Array.emptyByteArray) ++ s"JUNK$id".getBytes("US-ASCII")
      case 2 =>
        if ((id / 6) % 2 == 0) sig ++ ihdr ++ be(1000L, 4) ++
          "tIME".getBytes("US-ASCII") ++ fill(4) // data overruns EOF
        else sig ++ ihdr ++ Array[Byte](0, 0, 0) // partial header
      case 3 => sig ++ ihdr ++ be(0x80000001L, 4) ++ "tIME".getBytes("US-ASCII") ++ fill(5)
      case 4 => s"GIF89a not a png $id".getBytes("US-ASCII")
      case _ => sig ++ ihdr ++ chunk("tEXt", fill(tl))
    }
  }

  /** PNG chunk walk with CRC32 verification — the INTEGRITY member of
    * the walker series, one level deeper than [[imageDims]]'s dims
    * sniff: a PNG is `8-byte signature` then a flat run of
    * `u32be length | 4-byte type | data | u32be CRC32(type||data)`
    * chunks ending at IEND. Emits one row per chunk (offset, type,
    * length, crc_ok, critical — the type's case bit 0x20: uppercase
    * first letter = critical per PNG §5.4) plus the per-FILE terminal
    * status in the TAR walker's style (parsed prefix KEPT): `ok` /
    * `not_png` / `truncated` (partial header or declared length past
    * EOF) / `malformed` (length high bit set, or a non-alphabetic type
    * byte) / `no_iend` (clean EOF with no IEND — a distinct real-world
    * corruption from truncation). A CRC mismatch does NOT stop the walk
    * — lengths, not checksums, drive it (the real-world policy: a
    * corrupt ancillary chunk doesn't kill the file; crc_ok=0 IS the
    * per-chunk signal — crc_ok/critical are 1/0 INTs, not booleans,
    * because the flags are NULL on marker rows and nullable ints
    * round-trip identically through parquet and the oracle while
    * nullable booleans don't). The walk STOPS at IEND: trailing junk is never
    * scanned, and chunk boundaries are found by LENGTH, never by magic
    * search. Chunk-less outcomes yield one marker row.
    *
    * Scale shape: typed mapPartitions riding the scan stage, map-only
    * zero shuffle; headers and CRCs are read but data is touched only by
    * the CRC update — no copies, no decode.
    */
  def pngChunks(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, raw) =>
        val c = new ByteCursor(raw)
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Long, String, Int, Int, Int)]
        val status =
          if (!c.has(0, PngSignature)) "not_png"
          else try {
            var p = 8
            var v: String = null
            while (v == null) {
              if (p == c.length) v = "no_iend"
              else {
                c.need(p, 8)
                val len = c.be(p, 4)
                val typeOk = (p + 4 until p + 8).forall { i =>
                  val ch = c.u8(i)
                  (ch >= 'A' && ch <= 'Z') || (ch >= 'a' && ch <= 'z')
                }
                if (len > 0x7fffffffL || !typeOk) v = "malformed"
                else {
                  val stored = c.be(p + 8 + len, 4)
                  val ctype = c.ascii(p + 4, 4)
                  val crc = new java.util.zip.CRC32
                  crc.update(c.bytes, p + 4, 4 + len.toInt)
                  out += ((out.length, p.toLong, ctype, len.toInt,
                    if (crc.getValue == stored) 1 else 0,
                    if ((c.u8(p + 4) & 0x20) == 0) 1 else 0))
                  p += 12 + len.toInt
                  if (ctype == "IEND") v = "ok"
                }
              }
            }
            v
          } catch { case ByteCursor.Truncated => "truncated" }
        entryRows((id, status), out)
      }
    entryFrame(rows, "doc_id", "status", "idx", "c_off", "ctype", "clen", "crc_ok", "critical")
  }

  /** Synthetic JPEG payloads for [[jpegSegments]] — six families keyed
    * by doc_id % 6, every offset a pure function of the three
    * doc_id-derived lengths (al = 1+id%17 APP0 body, cl = id%9 extra
    * COM body, el = 5+id%13 entropy run) so the DuckDB oracle chains
    * segment offsets arithmetically:
    *   0: well-formed — SOI, APP0, COM whose body STARTS with a planted
    *      `FF D8` (a fake SOI the length-driven walk must step over),
    *      SOF0, SOS, entropy data opening with a stuffed `FF 00`, one
    *      RST0 mid-scan, EOI, junk tail (never walked);
    *   1: a non-FF byte where a marker is expected (malformed);
    *   2: truncation, alternating by doc_id div 6 % 2 between a COM
    *      whose declared length overruns EOF and a lone trailing FF;
    *   3: a segment length field of 1 (< 2 is impossible — the field
    *      includes itself; malformed);
    *   4: not a JPEG at all;
    *   5: clean EOF mid-entropy-scan with no EOI (no_eoi — the
    *      truncated-download signature, distinct from header truncation).
    */
  def syntheticJpegPayload(id: Long): Array[Byte] = {
    import ByteCursor.be
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def mk(x: Int): Unit = { bb += 0xff.toByte; bb += x.toByte }
    def fill(n: Int): Unit = (0 until n).foreach(i => bb += (0x41 + i % 23).toByte)
    val al = (1 + id % 17).toInt
    val cl = (id % 9).toInt
    val el = (5 + id % 13).toInt
    def app0(): Unit = { mk(0xe0); bb ++= be(al + 2, 2); fill(al) }
    def sof0(): Unit = {
      mk(0xc0); bb ++= be(17, 2); bb += 8.toByte; bb ++= be(16, 2) ++ be(16, 2); bb += 3.toByte
      (1 to 3).foreach { c => bb += c.toByte; bb += 0x11.toByte; bb += 0.toByte }
    }
    def sos(): Unit = {
      mk(0xda); bb ++= be(12, 2); bb += 3.toByte
      (1 to 3).foreach { c => bb += c.toByte; bb += 0.toByte }
      bb += 0.toByte; bb += 63.toByte; bb += 0.toByte
    }
    (id % 6) match {
      case 0 =>
        mk(0xd8); app0()
        mk(0xfe); bb ++= be(cl + 4, 2); bb += 0xff.toByte; bb += 0xd8.toByte; fill(cl)
        sof0(); sos()
        bb += 0xff.toByte; bb += 0x00.toByte; fill(el)
        mk(0xd0); fill(3)
        mk(0xd9)
        bb ++= s"JUNK$id".getBytes("US-ASCII")
      case 1 => mk(0xd8); app0(); bb += 'X'.toByte; fill(4)
      case 2 =>
        if ((id / 6) % 2 == 0) { mk(0xd8); app0(); mk(0xfe); bb ++= be(cl + 50, 2); fill(2) }
        else { mk(0xd8); app0(); bb += 0xff.toByte }
      case 3 => mk(0xd8); app0(); mk(0xfe); bb ++= be(1, 2); fill(5)
      case 4 => bb ++= s"GIF89a not a jpeg $id".getBytes("US-ASCII")
      case _ =>
        mk(0xd8); app0(); sof0(); sos()
        bb += 0xff.toByte; bb += 0x00.toByte; fill(el)
    }
    bb.toArray
  }

  /** JPEG marker-segment walk — the INTEGRITY member of the walker
    * series for the other half of the web's images (the m16 PNG walk's
    * sibling), one level deeper than [[imageDims]]'s dims sniff: a JPEG
    * is `FF D8` then a run of `FF marker [u16be length incl itself |
    * payload]` segments, where SOS switches the stream into
    * entropy-coded data that ends only at the next real marker. Emits
    * one row per marker (idx, offset of the FF byte, marker name,
    * declared length — NULL for standalone SOI/EOI/RSTn/TEM) plus the
    * per-FILE terminal status (parsed prefix KEPT): `ok` (EOI reached;
    * the junk tail after EOI is never scanned) / `not_jpeg` /
    * `truncated` (EOF inside a header or declared payload, or a lone
    * trailing FF) / `malformed` (non-FF where a marker is expected,
    * `FF 00` outside entropy data, or a length field < 2 — the field
    * includes its own two bytes) / `no_eoi` (clean EOF mid-entropy —
    * the truncated-download signature, a DIFFERENT real-world failure
    * from header truncation). The policy pins: segment boundaries are
    * found by LENGTH, never by scanning for FF (markers legally appear
    * inside COM/APPn bodies — pinned by a planted `FF D8` opening the
    * COM body); inside entropy data `FF 00` is a stuffed data byte and
    * `FF D0-D7` is a restart marker that gets its own row and does NOT
    * leave the scan; every scan row (SOS or RSTn) carries ecs_len, the
    * entropy bytes it owns before the next marker — the column that
    * proves the stuffing/restart logic byte-for-byte. seg_len/ecs_len
    * are nullable INTs (the m16 lesson: NULL ints round-trip identically
    * through parquet and the oracle).
    *
    * Scale shape: typed mapPartitions riding the scan stage, map-only
    * zero shuffle; payload bytes are stepped over by declared lengths —
    * only entropy runs are byte-scanned, nothing is copied or decoded.
    */
  def jpegSegments(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    def mname(x: Int): String = x match {
      case 0xd8 => "SOI"
      case 0xd9 => "EOI"
      case 0xda => "SOS"
      case 0xc4 => "DHT"
      case 0xdb => "DQT"
      case 0xdd => "DRI"
      case 0xfe => "COM"
      case 0x01 => "TEM"
      case v if v >= 0xd0 && v <= 0xd7 => "RST" + (v - 0xd0)
      case v if v >= 0xc0 && v <= 0xcf => "SOF" + (v - 0xc0)
      case v if v >= 0xe0 && v <= 0xef => "APP" + (v - 0xe0)
      case v => f"M$v%02X"
    }
    val rows = payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, raw) =>
        val c = new ByteCursor(raw)
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Long, String, Option[Int], Option[Int])]
        val status =
          if (!c.has(0, "\u00ff\u00d8")) "not_jpeg"
          else try {
            out += ((0, 0L, "SOI", None, None))
            var p = 2
            var entropy = false
            var start = 0
            var scanRow = -1
            def patch(upTo: Int): Unit =
              if (scanRow >= 0) out(scanRow) = out(scanRow).copy(_5 = Some(upTo - start))
            var v: String = null
            while (v == null) {
              if (entropy) {
                if (c.fits(p, 1) && c.u8(p) != 0xff) p += 1
                else if (!c.fits(p, 2)) { patch(p); v = "no_eoi" }
                else {
                  val m = c.u8(p + 1)
                  if (m == 0x00) p += 2 // stuffed data byte
                  else if (m >= 0xd0 && m <= 0xd7) {
                    patch(p)
                    scanRow = out.length
                    out += ((out.length, p.toLong, mname(m), None, None))
                    p += 2; start = p
                  } else { patch(p); entropy = false } // real marker: back to segment mode
                }
              } else if (c.u8(p) != 0xff) v = "malformed"
              else {
                var j = p // consume fill bytes (runs of FF before the marker byte)
                while (c.u8(j) == 0xff) j += 1
                val m = c.u8(j)
                if (m == 0x00) v = "malformed"
                else if (m == 0xd9) {
                  out += ((out.length, (j - 1).toLong, "EOI", None, None))
                  v = "ok"
                } else if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
                  out += ((out.length, (j - 1).toLong, mname(m), None, None))
                  p = j + 1
                } else {
                  val len = c.be(j + 1, 2).toInt
                  if (len < 2) v = "malformed"
                  else {
                    c.need(j + 1, len)
                    if (m == 0xda) { scanRow = out.length; entropy = true; start = j + 1 + len }
                    out += ((out.length, (j - 1).toLong, mname(m), Some(len), None))
                    p = j + 1 + len
                  }
                }
              }
            }
            v
          } catch { case ByteCursor.Truncated => "truncated" }
        entryRows((id, status), out)
      }
    entryFrame(rows, "doc_id", "status", "idx", "m_off", "marker", "seg_len", "ecs_len")
  }

  /** MPEG-1 Layer III bitrate table (kbps by header index 1..14; 0 is
    * "free" and 15 invalid) and sample-rate table (Hz by index 0..2;
    * 3 reserved) — shared by [[syntheticMp3Payload]] and [[mp3Frames]].
    */
  private[datapipe] val Mp3Bitrates: Array[Int] =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, -1)
  private[datapipe] val Mp3Samplerates: Array[Int] = Array(44100, 48000, 32000, -1)

  /** Synthetic MP3 payloads for [[mp3Frames]] — six families keyed by
    * doc_id % 6, every frame length derived from the header tables so
    * the DuckDB oracle chains offsets arithmetically (brIdx = 1+id%14,
    * srIdx = id%3, pad_i = (id+i)%2, crc when id%2=0, ID3v2 payload
    * ts = 128+id%60 — big enough to exercise the second syncsafe byte):
    *   0: ID3v2 tag then 3 frames, clean EOF (ok);
    *   1: 2 frames then an exact 128-byte ID3v1 'TAG' tail (ok);
    *   2: truncation, alternating by doc_id div 6 % 2 between a valid
    *      header whose frame overruns EOF and a 2-byte partial header;
    *   3: a valid frame then a non-sync byte (sync loss — malformed);
    *   4: not an MP3 at all;
    *   5: a valid frame then a header with bitrate index 0 (free-format
    *      — length undeterminable without scanning; its own status).
    */
  def syntheticMp3Payload(id: Long): Array[Byte] = {
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    val brIdx = (1 + id % 14).toInt
    val srIdx = (id % 3).toInt
    val crc = id % 2 == 0
    def frame(pad: Int, bi: Int = brIdx): Unit = {
      val b1 = if (crc) 0xfa else 0xfb
      bb += 0xff.toByte; bb += b1.toByte
      bb += ((bi << 4) | (srIdx << 2) | (pad << 1)).toByte
      bb += 0xc0.toByte
      if (bi >= 1 && bi <= 14) {
        val flen = 144000 * Mp3Bitrates(bi) / Mp3Samplerates(srIdx) + pad
        (4 until flen).foreach(i => bb += (0x30 + i % 31).toByte)
      }
    }
    (id % 6) match {
      case 0 =>
        val ts = (128 + id % 60).toInt
        bb ++= "ID3".getBytes("US-ASCII")
        bb += 3.toByte; bb += 0.toByte; bb += 0.toByte // version 2.3, no flags
        bb += 0.toByte; bb += 0.toByte
        bb += ((ts >> 7) & 0x7f).toByte; bb += (ts & 0x7f).toByte // syncsafe
        (0 until ts).foreach(_ => bb += 'x'.toByte)
        (0 until 3).foreach(i => frame(((id + i) % 2).toInt))
      case 1 =>
        (0 until 2).foreach(i => frame(((id + i) % 2).toInt))
        bb ++= "TAG".getBytes("US-ASCII")
        (0 until 125).foreach(_ => bb += 't'.toByte)
      case 2 =>
        frame((id % 2).toInt)
        if ((id / 6) % 2 == 0) {
          // full header, frame body cut after 10 bytes
          bb += 0xff.toByte; bb += (if (crc) 0xfa else 0xfb).toByte
          bb += ((brIdx << 4) | (srIdx << 2)).toByte; bb += 0xc0.toByte
          (0 until 6).foreach(_ => bb += 'z'.toByte)
        } else { bb += 0xff.toByte; bb += 0xfb.toByte } // partial header
      case 3 => frame((id % 2).toInt); bb ++= s"GARBAGE$id".getBytes("US-ASCII")
      case 4 => bb ++= s"plain text payload $id".getBytes("US-ASCII")
      case _ => frame((id % 2).toInt); frame(0, bi = 0) // free-format header
    }
    bb.toArray
  }

  /** MPEG-1 Layer III frame-chain walk — the audio BITSTREAM member of
    * the walker series (m8 walked the RIFF container; this walks the
    * web's dominant raw-audio framing, where m16/m17 walked its
    * images): an MP3 is back-to-back frames, each a 4-byte header whose
    * LENGTH IS COMPUTED, not declared — flen = 144000 * bitrate(idx) /
    * samplerate(idx) + padding, the tables and floor division being
    * exactly what a corrupt header breaks — so the frame chain is the
    * integrity check. One row per element (kind id3v2 / frame / id3v1)
    * with offset, bitrate kbps, samplerate Hz, padding, computed length
    * and CRC-present flag (nullable INTs on tag rows — the m16
    * convention); per-file terminal status with the parsed prefix KEPT:
    * `ok` (clean EOF at a frame boundary, or an EXACTLY-128-byte ID3v1
    * 'TAG' tail — 'TAG' anywhere else is sync loss) / `not_mp3` /
    * `truncated` (computed frame length past EOF, or a partial header)
    * / `malformed` (sync lost after a valid prefix, reserved
    * version/layer/samplerate, bitrate index 15) / `free_bitrate`
    * (index 0: free-format frames are legal MPEG but their length is
    * undeterminable without scanning — a DISTINCT verdict, not an
    * error, so downstream can route them to a scanning decoder). The
    * ID3v2 header is skipped by its SYNCSAFE 28-bit size (7 bits per
    * byte — the encoding that keeps 0xFF out of tag sizes; pinned by a
    * payload large enough to occupy two syncsafe bytes), emitted as a
    * row, and only honored at offset 0 per spec. NO resync: a real
    * decoder hunts for the next sync word after corruption, but a
    * CORPUS walker wants corruption REPORTED, not healed — the
    * m16/m17 boundaries-by-arithmetic principle.
    *
    * Scope: MPEG-1 Layer III only (the web's MP3); MPEG-2/2.5 and
    * Layers I/II report malformed — documented simplification, pinned
    * by a version-bits unit case. Scale shape: typed mapPartitions in
    * the scan stage, zero exchange; only headers are read — frame
    * bodies are stepped over by the computed length.
    */
  def mp3Frames(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, raw) =>
        val c = new ByteCursor(raw)
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Long, String, Option[Int], Option[Int], Option[Int], Option[Int], Option[Int])]
        def sync(p: Int) = c.u8(p) == 0xff && (c.u8(p + 1) & 0xe0) == 0xe0
        // ID3v2 only at offset 0 per spec
        val id3 = c.fits(0, 10) && c.has(0, "ID3")
        val status =
          if (!id3 && !(c.fits(0, 2) && sync(0))) "not_mp3"
          else try {
            var p = 0
            if (id3) {
              p = 10 + ((c.u8(6) << 21) | (c.u8(7) << 14) | (c.u8(8) << 7) | c.u8(9))
              c.need(0, p)
              out += ((0, 0L, "id3v2", None, None, None, Some(p), None))
            }
            var v: String = null
            while (v == null) {
              if (p == c.length) v = "ok"
              else if (c.has(p, "TAG")) {
                if (c.length - p == 128) {
                  out += ((out.length, p.toLong, "id3v1", None, None, None, Some(128), None))
                  v = "ok"
                } else v = "malformed"
              } else if (!c.fits(p, 4)) v = "truncated"
              else if (!sync(p)) v = "malformed"
              else {
                val version = (c.u8(p + 1) >> 3) & 0x3
                val layer = (c.u8(p + 1) >> 1) & 0x3
                val noCrc = c.u8(p + 1) & 0x1
                val brIdx = c.u8(p + 2) >> 4
                val srIdx = (c.u8(p + 2) >> 2) & 0x3
                val pad = (c.u8(p + 2) >> 1) & 0x1
                if (version != 3 || layer != 1) v = "malformed"
                else if (brIdx == 0) v = "free_bitrate"
                else if (brIdx == 15 || srIdx == 3) v = "malformed"
                else {
                  val flen = 144000 * Mp3Bitrates(brIdx) / Mp3Samplerates(srIdx) + pad
                  c.need(p, flen)
                  out += ((out.length, p.toLong, "frame", Some(Mp3Bitrates(brIdx)),
                    Some(Mp3Samplerates(srIdx)), Some(pad), Some(flen), Some(1 - noCrc)))
                  p += flen
                }
              }
            }
            v
          } catch { case ByteCursor.Truncated => "truncated" }
        entryRows((id, status), out)
      }
    entryFrame(rows, "doc_id", "status", "idx", "f_off", "kind", "br_kbps", "sr_hz",
      "pad", "flen", "crc")
  }

  /** Synthetic zstd payloads for [[zstdFrames]] — six families keyed by
    * doc_id % 6, every length derived from doc_id so the DuckDB oracle
    * chains offsets arithmetically (r1 = 16+id%32, r2 = 8+id%16,
    * rc = 64+id%100, sk = 4+id%8, raw1 = 10+id%50, r3 = 5+id%10,
    * r4 = 7+id%12):
    *   0: one frame, 2-byte FCS (decoded value = field + 256 — the
    *      spec's bias) + 1-byte dictionary id; raw, compressed and RLE
    *      blocks chained, clean EOF (ok);
    *   1: a skippable frame (low-nibble magic id%16) then a
    *      single-segment frame (no window byte, 1-byte FCS) with one
    *      raw block and a content checksum (ok);
    *   2: a block header declaring 1000 raw bytes over a 5-byte tail
    *      (truncated);
    *   3: a raw block then a reserved-type block header (malformed);
    *   4: not zstd at all;
    *   5: a complete frame then a second frame whose descriptor sets
    *      the reserved bit (malformed — first frame's rows kept).
    */
  def syntheticZstdPayload(id: Long): Array[Byte] = {
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    import ByteCursor.le
    def magic(): Unit = bb ++= le(0xFD2FB528L, 4)
    def blockHdr(size: Int, btype: Int, last: Int): Unit =
      bb ++= le((size << 3) | (btype << 1) | last, 3)
    def fill(k: Int, c: Int = 'x'): Unit =
      (0 until k).foreach(i => bb += ((c + i % 23) & 0x7f).toByte)
    val r1 = (16 + id % 32).toInt; val r2 = (8 + id % 16).toInt
    val rc = (64 + id % 100).toInt; val sk = (4 + id % 8).toInt
    val raw1 = (10 + id % 50).toInt; val r3 = (5 + id % 10).toInt
    val r4 = (7 + id % 12).toInt
    (id % 6) match {
      case 0 =>
        magic(); bb += 0x41.toByte // FCS flag 1, dict-id flag 1
        bb += 0x88.toByte // window descriptor
        bb += (id % 256).toByte // dictionary id
        val f = r1 + r2 + rc
        bb ++= le(f, 2)
        blockHdr(r1, 0, 0); fill(r1)
        blockHdr(r2, 2, 0); fill(r2, 'q')
        blockHdr(rc, 1, 1); bb += 'r'.toByte
      case 1 =>
        bb ++= le(0x184D2A50L + id % 16, 4) ++ le(sk, 4); fill(sk, 's')
        magic(); bb += 0x24.toByte // single-segment + checksum
        bb += raw1.toByte // 1-byte FCS
        blockHdr(raw1, 0, 1); fill(raw1)
        (0 until 4).foreach(_ => bb += 0xAA.toByte)
      case 2 =>
        magic(); bb += 0x00.toByte; bb += 0x88.toByte
        blockHdr(1000, 0, 1); fill(5, 'z')
      case 3 =>
        magic(); bb += 0x00.toByte; bb += 0x88.toByte
        blockHdr(r3, 0, 0); fill(r3)
        blockHdr(10, 3, 1)
      case 4 => bb ++= s"plain text payload $id".getBytes("US-ASCII")
      case _ =>
        magic(); bb += 0x00.toByte; bb += 0x88.toByte
        blockHdr(r4, 0, 1); fill(r4)
        magic(); bb += 0x08.toByte // reserved descriptor bit
    }
    bb.toArray
  }

  /** Zstandard frame/block walk (RFC 8878) — the MODERN compression
    * container of the walker series (m9 inflated gzip members because
    * gzip declares no lengths; zstd is the opposite design and the
    * point of this op): every element's extent is DECLARED, so the
    * whole container walks without a decompressor — raw and compressed
    * blocks are stepped over by the 21-bit Block_Size, an RLE block
    * consumes exactly ONE payload byte (its Block_Size is the
    * REGENERATED count — the field that does not measure file bytes,
    * pinned by the offset chain), skippable frames by their u32 size,
    * and the frame header's own length is computed from the descriptor
    * bits (FCS field size by flag, window byte absent iff
    * Single_Segment, dictionary-id field by its 2-bit flag). One row
    * per element (frame / skippable / block / checksum) with offset,
    * block type, declared size, last-block flag and the decoded
    * Frame_Content_Size — including the spec's +256 bias on the 2-byte
    * encoding (a walker that returns the raw field corrupts every size
    * in [256, 65791]). Terminal status with the parsed prefix KEPT:
    * `ok` (clean EOF at a frame boundary) / `not_zstd` / `truncated`
    * (any declared extent past EOF) / `malformed` (reserved descriptor
    * bit, reserved block type, or garbage where a magic belongs after a
    * valid prefix). NO resync — the m16/m17/m18
    * boundaries-by-arithmetic principle: corruption is REPORTED, not
    * healed. Frames legally concatenate (a .zst stream is a frame
    * sequence, like gzip members) and the walk continues across them.
    *
    * Scale shape: typed mapPartitions in the scan stage, zero
    * exchange; only headers are read — block bodies are stepped over,
    * never copied or decoded. Reference: RFC 8878 §3.1.1 (frame and
    * block headers), §3.1.2 (skippable frames).
    */
  def zstdFrames(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, raw) =>
        val c = new ByteCursor(raw)
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Long, String, Option[String], Option[Int], Option[Int], Option[Long])]
        def skippable(m: Long) = (m & 0xFFFFFFF0L) == 0x184D2A50L
        val status =
          if (!c.fits(0, 4) || (c.le(0, 4) != 0xFD2FB528L && !skippable(c.le(0, 4)))) "not_zstd"
          else try {
            var p = 0
            var v: String = null
            while (v == null) {
              if (p == c.length) v = "ok"
              else {
                val m = c.le(p, 4)
                if (skippable(m)) {
                  val sz = c.le(p + 4, 4)
                  c.need(p + 8, sz)
                  out += ((out.length, p.toLong, "skippable", None, Some(sz.toInt), None, None))
                  p += 8 + sz.toInt
                } else if (m != 0xFD2FB528L) v = "malformed"
                else {
                  val d = c.u8(p + 4)
                  val fcsFlag = d >> 6; val single = (d >> 5) & 1
                  val reserved = (d >> 3) & 1; val ck = (d >> 2) & 1
                  val didSize = Array(0, 1, 2, 4)(d & 3)
                  if (reserved == 1) v = "malformed"
                  else {
                    val fcsSize = fcsFlag match {
                      case 0 => if (single == 1) 1 else 0
                      case 1 => 2
                      case 2 => 4
                      case _ => 8
                    }
                    val hl = 5 + (1 - single) + didSize + fcsSize
                    c.need(p, hl)
                    val fcsOff = p + 5 + (1 - single) + didSize
                    val fcs: Option[Long] =
                      if (fcsSize == 0) None
                      else if (fcsSize == 2) Some(c.le(fcsOff, 2) + 256L)
                      else Some(c.le(fcsOff, fcsSize))
                    out += ((out.length, p.toLong, "frame", None, Some(hl), None, fcs))
                    p += hl
                    var lastSeen = false
                    while (v == null && !lastSeen) {
                      val h = c.le(p, 3)
                      val lastB = (h & 1).toInt
                      val bt = ((h >> 1) & 3).toInt
                      val bs = (h >> 3).toInt
                      if (bt == 3) v = "malformed"
                      else {
                        val consumed = 3 + (if (bt == 1) 1 else bs)
                        c.need(p, consumed)
                        val btName = if (bt == 0) "raw" else if (bt == 1) "rle" else "compressed"
                        out += ((out.length, p.toLong, "block", Some(btName),
                          Some(bs), Some(lastB), None))
                        p += consumed
                        lastSeen = lastB == 1
                      }
                    }
                    if (v == null && ck == 1) {
                      c.need(p, 4)
                      out += ((out.length, p.toLong, "checksum", None, Some(4), None, None))
                      p += 4
                    }
                  }
                }
              }
            }
            v
          } catch { case ByteCursor.Truncated => "truncated" }
        entryRows((id, status), out)
      }
    entryFrame(rows, "doc_id", "status", "idx", "z_off", "kind", "btype", "bsize",
      "last", "fcs")
  }

  /** Synthetic EBML/Matroska payloads for [[ebmlElements]] — six
    * families keyed by doc_id % 6 (dc = 11+id%16 header content,
    * i1 = 5+id%20 Info, c1 = 9+id%30 and c2 = 4+id%10 Clusters,
    * v1 = 3+id%5 top-level unknown element):
    *   0: EBML header + declared-size Segment containing Info and a
    *      Cluster, clean EOF (ok);
    *   1: Segment with UNKNOWN size (0xFF) running to EOF, two
    *      Clusters inside (ok — the streamed-webm shape);
    *   2: Segment declaring more content than the file holds — row
    *      kept, no descent (truncated);
    *   3: a 0x00 byte where a child ID belongs after a valid Info
    *      (malformed — 0x00 starts no legal VINT);
    *   4: not EBML at all;
    *   5: a 2-byte-ID top-level element (4286) then a Segment whose
    *      Info carries a NON-MINIMAL 4-byte size VINT encoding the
    *      same small value — width comes from the marker, not the
    *      magnitude (ok).
    */
  def syntheticEbmlPayload(id: Long): Array[Byte] = {
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def raw(xs: Int*): Unit = xs.foreach(x => bb += x.toByte)
    def fill(k: Int, c: Int = 'e'): Unit =
      (0 until k).foreach(i => bb += ((c + i % 19) & 0x7f).toByte)
    val dc = (11 + id % 16).toInt; val i1 = (5 + id % 20).toInt
    val c1 = (9 + id % 30).toInt; val c2 = (4 + id % 10).toInt
    val v1 = (3 + id % 5).toInt
    def header(): Unit = { raw(0x1a, 0x45, 0xdf, 0xa3, 0x80 | dc); fill(dc) }
    def info(): Unit = { raw(0x15, 0x49, 0xa9, 0x66, 0x80 | i1); fill(i1, 'i') }
    def cluster(k: Int): Unit = { raw(0x1f, 0x43, 0xb6, 0x75, 0x80 | k); fill(k, 'c') }
    (id % 6) match {
      case 0 =>
        header()
        raw(0x18, 0x53, 0x80, 0x67, 0x80 | (10 + i1 + c1))
        info(); cluster(c1)
      case 1 =>
        header()
        raw(0x18, 0x53, 0x80, 0x67, 0xff) // unknown size -> to EOF
        cluster(c1); cluster(c2)
      case 2 =>
        header()
        raw(0x18, 0x53, 0x80, 0x67, 0x80 | (5 + c1)); fill(3, 'z')
      case 3 =>
        header()
        raw(0x18, 0x53, 0x80, 0x67, 0x80 | (5 + i1 + 1))
        info(); raw(0x00)
      case 4 => bb ++= s"plain text payload $id".getBytes("US-ASCII")
      case _ =>
        header()
        raw(0x42, 0x86, 0x80 | v1); fill(v1, 'v')
        raw(0x18, 0x53, 0x80, 0x67, 0x80 | (8 + i1))
        raw(0x15, 0x49, 0xa9, 0x66, 0x10, 0x00, 0x00, i1); fill(i1, 'i')
    }
    bb.toArray
  }

  /** EBML / Matroska element walk — the VARIABLE-WIDTH-length member
    * of the walker series (webm is the web's native video container):
    * where every previous walker read fixed-width lengths (u16be JPEG,
    * u32 PNG/RIFF/zstd, octal TAR) or computed them (MP3), EBML
    * encodes BOTH element IDs and sizes as VINTs — the first byte's
    * leading-zero count IS the field width (1xxxxxxx = 1 byte,
    * 01xxxxxx = 2, ... IDs to 4 bytes, sizes to 8), the exact design
    * that makes a single flipped high bit change how many bytes the
    * field occupies, so the offset chain is the integrity check. IDs
    * keep their marker bit (the hex convention: 1A45DFA3, 18538067);
    * sizes drop it, and an all-value-bits-set size is UNKNOWN — legal
    * for the Segment (streamed webm declares no end and runs to EOF, a
    * distinct pinned path, NOT an error) and malformed anywhere else
    * in this walker (documented simplification; only Segment descent
    * needs it). Non-minimal size encodings are legal and pinned (a
    * 4-byte VINT carrying a 1-byte value — width from the marker, not
    * the magnitude). One row per element with level, offset, id hex,
    * decoded size (NULL = unknown) and header length; the walk
    * descends ONLY into Segment (one level — SeekHead/Info/Tracks/
    * Cluster are opaque corpus units), a child declaring past its
    * segment's declared end is malformed (disagreeing extents), and
    * status keeps the parsed prefix: ok / not_ebml / truncated /
    * malformed. NO resync, the walker-series principle.
    *
    * Scale shape: typed mapPartitions in the scan stage, zero
    * exchange; only ID/size headers are read — element bodies are
    * stepped over. Reference: RFC 8794 §4 (VINT), §6.2 (unknown data
    * size); Matroska element IDs from the IANA registry.
    */
  def ebmlElements(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, raw) =>
        val c = new ByteCursor(raw)
        def vintWidth(fb: Int, max: Int): Int = {
          var w = 1; var mask = 0x80
          while (mask > 0 && (fb & mask) == 0) { w += 1; mask >>= 1 }
          if (fb == 0 || w > max) -1 else w
        }
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Long, Int, String, Option[Long], Int)]
        // one element header at p inside a region ending at `end`:
        // (idHex, size Option, headerLen), null on a malformed VINT;
        // Truncated when the header runs past `end`
        def readHeader(p: Int, end: Int): (String, Option[Long], Int) = {
          def u(q: Int): Int = if (q < end) c.u8(q) else throw ByteCursor.Truncated
          val iw = vintWidth(u(p), 4)
          if (iw < 0) return null
          val idHex = (0 until iw).map(k => f"${u(p + k)}%02X").mkString
          val sp = p + iw
          val sw = vintWidth(u(sp), 8)
          if (sw < 0) return null
          var v = (u(sp) & (0xff >> sw)).toLong
          var allOnes = (u(sp) & (0xff >> sw)) == (0xff >> sw)
          (1 until sw).foreach { k =>
            v = (v << 8) | u(sp + k); if (u(sp + k) != 0xff) allOnes = false
          }
          (idHex, if (allOnes) None else Some(v), iw + sw)
        }
        // descend one level into a Segment; inside a DECLARED segment a
        // child crossing the boundary is malformed (disagreeing
        // extents), inside an unknown-size one it is plain truncation
        def segment(start: Int, end: Int, unknown: Boolean): String = {
          val crossing = if (unknown) "truncated" else "malformed"
          var q = start
          try {
            while (q < end) {
              val ch = readHeader(q, end)
              if (ch == null || ch._2.isEmpty) return "malformed"
              val (cid, csz, chl) = ch
              if (q + chl + csz.get > end) return crossing
              out += ((out.length, q.toLong, 1, cid, csz, chl))
              q += chl + csz.get.toInt
            }
            null
          } catch { case ByteCursor.Truncated => crossing }
        }
        val status =
          if (!c.has(0, "\u001a\u0045\u00df\u00a3")) "not_ebml"
          else try {
            var p = 0
            var v: String = null
            while (v == null && p < c.length) {
              val h = readHeader(p, c.length)
              if (h == null) v = "malformed"
              else {
                val (idHex, size, hl) = h
                if (size.isEmpty && idHex != "18538067") v = "malformed"
                else {
                  out += ((out.length, p.toLong, 0, idHex, size, hl))
                  val cStart = p + hl
                  val len = size.getOrElse((c.length - cStart).toLong)
                  c.need(cStart, len)
                  val cEnd = cStart + len.toInt
                  if (idHex == "18538067") v = segment(cStart, cEnd, size.isEmpty)
                  p = cEnd
                }
              }
            }
            if (v == null) "ok" else v
          } catch { case ByteCursor.Truncated => "truncated" }
        entryRows((id, status), out)
      }
    entryFrame(rows, "doc_id", "status", "idx", "e_off", "level", "id_hex", "esize",
      "hdr_len")
  }

  /** Ogg page CRC (RFC 3533): CRC-32 with polynomial 0x04c11db7,
    * DIRECT algorithm — zero initial value, no final xor, no bit
    * reflection — which is precisely NOT java.util.zip.CRC32 (reflected,
    * 0xffffffff init/xor), so it is table-built here; shared by the
    * builder and the walker (the walker's check is pinned by a
    * planted post-CRC corruption family, not by self-agreement).
    */
  private[datapipe] val OggCrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var k = 0
      while (k < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04c11db7 else r << 1
        k += 1
      }
      t(i) = r; i += 1
    }
    t
  }
  private[datapipe] def oggCrc(b: Array[Byte], from: Int, len: Int): Int = {
    var c = 0; var i = from
    while (i < from + len) {
      c = (c << 8) ^ OggCrcTable(((c >>> 24) ^ (b(i) & 0xff)) & 0xff)
      i += 1
    }
    c
  }

  /** Synthetic Ogg payloads for [[oggPages]] — five families keyed by
    * doc_id % 5 (l1 = 10+id%50, l2 = 5+id%20, r = 7+id%40,
    * l3 = 3+id%30, granule = id%1000, serial = id%97):
    *   0: BOS page with two whole packets, then an EOS page whose
    *      single packet spans two lacing values (255 + r) — clean EOF;
    *   1: one BOS page whose packet runs 255,255,l3 (lacing-run
    *      framing) with a CRC corrupted AFTER computation (crc_ok=0,
    *      page still walks — checksums never drive the walk);
    *   2: header declares five lacing values over a two-byte table
    *      (truncated);
    *   3: a valid BOS page then a version-1 page (malformed);
    *   4: not ogg.
    */
  def syntheticOggPayload(id: Long): Array[Byte] = {
    import ByteCursor.le
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    val l1 = (10 + id % 50).toInt; val l2 = (5 + id % 20).toInt
    val r = (7 + id % 40).toInt; val l3 = (3 + id % 30).toInt
    val gran = id % 1000; val serial = id % 97
    def page(flags: Int, seq: Long, lacing: Seq[Int], corruptCrc: Boolean = false,
             version: Int = 0): Unit = {
      val start = bb.length
      bb ++= "OggS".getBytes("US-ASCII")
      bb += version.toByte; bb += flags.toByte
      bb ++= le(gran, 8) ++ le(serial, 4) ++ le(seq, 4)
      val crcPos = bb.length
      bb ++= le(0L, 4) // crc placeholder
      bb += lacing.length.toByte
      lacing.foreach(v => bb += v.toByte)
      lacing.zipWithIndex.foreach { case (v, k) =>
        (0 until v).foreach(j => bb += (('a' + (k + j) % 23) & 0x7f).toByte)
      }
      val crc = oggCrc(bb.toArray, start, bb.length - start)
      bb.patchInPlace(crcPos, le(crc, 4), 4)
      if (corruptCrc && lacing.nonEmpty && lacing.head > 0)
        bb(bb.length - 1) = (bb(bb.length - 1) ^ 0x01).toByte
    }
    (id % 5) match {
      case 0 =>
        page(0x02, 0L, Seq(l1, l2))        // BOS, two whole packets
        page(0x04, 1L, Seq(255, r))        // EOS, one spanning packet
      case 1 =>
        page(0x02, 0L, Seq(255, 255, l3), corruptCrc = true)
      case 2 =>
        bb ++= "OggS".getBytes("US-ASCII")
        bb += 0.toByte; bb += 0x02.toByte
        bb ++= le(gran, 8) ++ le(serial, 4) ++ le(0L, 8)
        bb += 5.toByte; bb += 40.toByte; bb += 40.toByte // table cut short
      case 3 =>
        page(0x02, 0L, Seq(l1))
        page(0x04, 1L, Seq(l2), version = 1)
      case _ => bb ++= s"plain text payload $id".getBytes("US-ASCII")
    }
    bb.toArray
  }

  /** Ogg page walk (RFC 3533) — the LACING-VALUE member of the walker
    * series and the web's streaming-audio container (opus/vorbis ship
    * in it): a page's body length is the SUM of its segment table's
    * lacing values, and packet boundaries are encoded in the values
    * themselves — a run of 255s continues one packet, the first value
    * < 255 ends it — so `n_packets` (completed on the page) falls out
    * of counting non-255 lacing values, a third length mechanism after
    * fixed-width declares (PNG/zstd) and computed lengths (MP3). One
    * row per page: offset, header flags (continued/BOS/EOS bits),
    * granule position, serial, sequence number, segment count, body
    * length, packets completed, and crc_ok — the page CRC is the
    * POLYNOMIAL-0x04c11db7 DIRECT variant (not java.util.zip's
    * reflected CRC32; table-built here) computed with the CRC field
    * zeroed, verified but NEVER driving the walk (lengths do — the m16
    * principle; pinned by a corrupted-CRC family that still walks to
    * ok with crc_ok=0). Status: ok / not_ogg / truncated (header,
    * table, or body past EOF) / malformed (non-zero version after a
    * valid prefix). NO resync.
    *
    * Scale shape: typed mapPartitions in the scan stage, zero
    * exchange; body bytes are touched only by the CRC update.
    */
  def oggPages(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, raw) =>
        val c = new ByteCursor(raw)
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Long, Int, Long, Long, Long, Int, Int, Int, Int)]
        val status =
          if (!c.has(0, "OggS")) "not_ogg"
          else try {
            var p = 0
            var v: String = null
            while (v == null) {
              if (p == c.length) v = "ok"
              else {
                c.need(p, 27)
                if (!c.has(p, "OggS") || c.u8(p + 4) != 0) v = "malformed"
                else {
                  val nseg = c.u8(p + 26)
                  c.need(p + 27, nseg)
                  var body = 0; var pkts = 0
                  (0 until nseg).foreach { k =>
                    val lace = c.u8(p + 27 + k)
                    body += lace; if (lace < 255) pkts += 1
                  }
                  val total = 27 + nseg + body
                  c.need(p, total)
                  // CRC over the page with its CRC field zeroed
                  var crc = 0
                  var i = p
                  while (i < p + total) {
                    val byte = if (i >= p + 22 && i < p + 26) 0 else c.u8(i)
                    crc = (crc << 8) ^ OggCrcTable(((crc >>> 24) ^ byte) & 0xff)
                    i += 1
                  }
                  out += ((out.length, p.toLong, c.u8(p + 5), c.le(p + 6, 8), c.le(p + 14, 4),
                    c.le(p + 18, 4), nseg, body, pkts,
                    if ((crc & 0xffffffffL) == c.le(p + 22, 4)) 1 else 0))
                  p += total
                }
              }
            }
            v
          } catch { case ByteCursor.Truncated => "truncated" }
        entryRows((id, status), out)
      }
    entryFrame(rows, "doc_id", "status", "idx", "p_off", "flags", "granule", "serial",
      "seq", "n_segs", "body_len", "n_packets", "crc_ok")
  }

  /** TFRecord masked CRC32C (the TensorFlow framing convention):
    * crc32c (Castagnoli — java.util.zip.CRC32C, NOT the zlib
    * polynomial) then mask = ((crc >>> 15) | (crc << 17)) + 0xa282ead8
    * in wrapping u32 arithmetic — the rotation+offset that keeps a CRC
    * of a CRC from looking valid. Shared by builder and walker; the
    * walker's check is pinned by planted corruption families.
    */
  private[graft] def tfMaskedCrc(b: Array[Byte], from: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32C
    c.update(b, from, len)
    val crc = c.getValue.toInt
    ((crc >>> 15) | (crc << 17)) + 0xa282ead8
  }

  /** Synthetic TFRecord payloads for [[tfrecordRecords]] — five
    * families keyed by doc_id % 5 (r1 = 8+id%40, r2 = 5+id%25,
    * r3 = 3+id%10; record i's payload is chr('a'+i) repeated):
    *   0: three clean records (ok);
    *   1: record 1's first payload byte flipped AFTER the CRCs are
    *      written — data crc fails, the boundary is still trusted, the
    *      walk continues through record 2 (ok at file level, the bad
    *      record flagged per-row);
    *   2: record 1's LENGTH-crc field corrupted — the length itself is
    *      untrustworthy, the walk HALTS (corrupt_len), record 0 kept;
    *   3: record 1 declares r2+1000 bytes with the length crc VALID
    *      over that length (truncated);
    *   4: a 7-byte fragment of a valid record (truncated mid-length).
    */
  def syntheticTfrecordPayload(id: Long): Array[Byte] = {
    import ByteCursor.le
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    val lens = Seq((8 + id % 40).toInt, (5 + id % 25).toInt, (3 + id % 10).toInt)
    def record(i: Int, declaredLen: Int, actualLen: Int): Unit = {
      val lenBytes = le(declaredLen, 8)
      bb ++= lenBytes ++ le(tfMaskedCrc(lenBytes, 0, 8), 4)
      val dataStart = bb.length
      (0 until actualLen).foreach(_ => bb += ('a' + i).toByte)
      bb ++= le(tfMaskedCrc(bb.toArray, dataStart, actualLen), 4)
    }
    (id % 5) match {
      case 0 => (0 until 3).foreach(i => record(i, lens(i), lens(i)))
      case 1 =>
        record(0, lens(0), lens(0))
        val flipAt = bb.length + 12 // first payload byte of record 1
        record(1, lens(1), lens(1))
        bb(flipAt) = (bb(flipAt) ^ 0x01).toByte
        record(2, lens(2), lens(2))
      case 2 =>
        record(0, lens(0), lens(0))
        val crcAt = bb.length + 8 // length-crc field of record 1
        record(1, lens(1), lens(1))
        bb(crcAt) = (bb(crcAt) ^ 0x01).toByte
        record(2, lens(2), lens(2))
      case 3 =>
        record(0, lens(0), lens(0))
        record(1, lens(1) + 1000, 5) // declared past EOF, len crc valid
      case _ =>
        record(0, lens(0), lens(0))
        val cut = bb.take(7).toArray
        bb.clear(); bb ++= cut
    }
    bb.toArray
  }

  /** TFRecord record walk — THE training-data shard format (TFRecord /
    * tf.data): the walker series applied to the file format a training
    * pipeline itself emits, closing the loop from web bytes to model
    * input. Framing per record: u64le length, masked-CRC32C of the
    * length bytes, payload, masked-CRC32C of the payload — CRC32C is
    * Castagnoli (java.util.zip.CRC32C), and the TF mask
    * (rot15 + 0xa282ead8) is re-derived here, both pinned by planted
    * corruption. The policy the two CRCs exist for is the pinned
    * centerpiece: a LENGTH-crc failure HALTS the walk (`corrupt_len` —
    * the very boundary is untrustworthy, every later offset would be a
    * guess), while a DATA-crc failure flags its row and CONTINUES (the
    * boundary was verified; one corrupt record must not discard the
    * shard's tail — exactly why TF checksums length and data
    * separately). One row per record: offset, length, both crc
    * verdicts, payload md5. Status: ok (includes an EMPTY file — zero
    * records is a valid shard; TFRecord has no magic, so there is no
    * not_tfrecord verdict) / truncated / corrupt_len. NO resync.
    *
    * Scale shape: typed mapPartitions in the scan stage, zero
    * exchange; payload bytes feed only the CRC and digest.
    */
  def tfrecordRecords(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def crcOk(c: ByteCursor, from: Int, len: Int): Boolean =
          (tfMaskedCrc(c.bytes, from, len).toLong & 0xffffffffL) == c.le(from + len, 4)
        it.flatMap { case (id, raw) =>
          val c = new ByteCursor(raw)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Int, Long, Long, Int, Int, String)]
          val status = try {
            var p = 0
            var v: String = null
            while (v == null) {
              if (p == c.length) v = "ok"
              else {
                val len = c.le(p, 8)
                if (!crcOk(c, p, 8)) v = "corrupt_len"
                else {
                  c.need(p + 12, len + 4)
                  val dataCrcOk = crcOk(c, p + 12, len.toInt)
                  md.reset()
                  md.update(c.bytes, p + 12, len.toInt)
                  val hex = md.digest().map("%02x".format(_)).mkString
                  out += ((out.length, p.toLong, len, 1, if (dataCrcOk) 1 else 0, hex))
                  p += 12 + len.toInt + 4
                }
              }
            }
            v
          } catch { case ByteCursor.Truncated => "truncated" }
          entryRows((id, status), out)
        }
      }
    entryFrame(rows, "doc_id", "status", "idx", "r_off", "rec_len", "len_crc_ok",
      "data_crc_ok", "payload_md5")
  }

  /** Strict RFC-8259 JSON validity check, from scratch (no library
    * parse on the executor hot path): full grammar — nested
    * objects/arrays (depth capped at 64), string escapes incl \\uXXXX,
    * the complete number shape, true/false/null — and the WHOLE input
    * must be one value (trailing garbage invalidates). ASCII-digit
    * strict (Character.isDigit would admit Unicode digits JSON
    * forbids).
    */
  def jsonValid(s: String): Boolean = {
    val n = s.length
    var p = 0
    def dig(c: Char) = c >= '0' && c <= '9'
    // the full RFC-8259 ws set %x20/%x09/%x0A/%x0D — LF included even
    // though JSONL framing means callers never feed one (the method is
    // public and documented as the strict whole-grammar check, so
    // pretty-printed values like "{\n}" must pass)
    def ws(): Unit = while (p < n && {
      val c = s.charAt(p); c == ' ' || c == '\t' || c == '\r' || c == '\n'
    }) p += 1
    def lit(t: String): Boolean =
      p + t.length <= n && s.regionMatches(p, t, 0, t.length) && { p += t.length; true }
    def hex(c: Char) = dig(c) || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
    def str(): Boolean = {
      if (p >= n || s.charAt(p) != '"') return false
      p += 1
      while (p < n && s.charAt(p) != '"') {
        val c = s.charAt(p)
        if (c == '\\') {
          if (p + 1 >= n) return false
          val e = s.charAt(p + 1)
          if ("\"\\/bfnrt".indexOf(e.toInt) >= 0) p += 2
          else if (e == 'u' && p + 6 <= n && (2 to 5).forall(k => hex(s.charAt(p + k)))) p += 6
          else return false
        } else if (c < ' ') return false
        else p += 1
      }
      p < n && { p += 1; true }
    }
    def num(): Boolean = {
      if (p < n && s.charAt(p) == '-') p += 1
      if (p >= n || !dig(s.charAt(p))) return false
      if (s.charAt(p) == '0') p += 1
      else while (p < n && dig(s.charAt(p))) p += 1
      if (p < n && s.charAt(p) == '.') {
        p += 1
        if (p >= n || !dig(s.charAt(p))) return false
        while (p < n && dig(s.charAt(p))) p += 1
      }
      if (p < n && (s.charAt(p) == 'e' || s.charAt(p) == 'E')) {
        p += 1
        if (p < n && (s.charAt(p) == '+' || s.charAt(p) == '-')) p += 1
        if (p >= n || !dig(s.charAt(p))) return false
        while (p < n && dig(s.charAt(p))) p += 1
      }
      true
    }
    def value(d: Int): Boolean = {
      if (d > 64 || p >= n) return false
      s.charAt(p) match {
        case '{' =>
          p += 1; ws()
          if (p < n && s.charAt(p) == '}') { p += 1; true }
          else {
            var good = true; var open = true
            while (good && open) {
              ws(); good = str(); ws()
              good = good && p < n && s.charAt(p) == ':' && { p += 1; ws(); value(d + 1) }
              ws()
              if (good) {
                if (p < n && s.charAt(p) == ',') p += 1
                else if (p < n && s.charAt(p) == '}') { p += 1; open = false }
                else good = false
              }
            }
            good
          }
        case '[' =>
          p += 1; ws()
          if (p < n && s.charAt(p) == ']') { p += 1; true }
          else {
            var good = true; var open = true
            while (good && open) {
              ws(); good = value(d + 1); ws()
              if (good) {
                if (p < n && s.charAt(p) == ',') p += 1
                else if (p < n && s.charAt(p) == ']') { p += 1; open = false }
                else good = false
              }
            }
            good
          }
        case '"' => str()
        case 't' => lit("true")
        case 'f' => lit("false")
        case 'n' => lit("null")
        case c if c == '-' || dig(c) => num()
        case _ => false
      }
    }
    ws()
    val v = p < n && value(0)
    ws()
    v && p == n
  }

  /** Synthetic JSONL payloads for [[jsonlRecords]] — five families
    * keyed by doc_id % 5 (line i: `{"id":<id>,"text":"<chr('a'+i) x
    * (5+(id+i)%20)>"}`):
    *   0: three clean object lines;
    *   1: line 1 truncated before its closing quote+brace (invalid;
    *      newline framing is independent of content, lines 0/2 fine);
    *   2: two lines, NO trailing newline on the last (EOF terminates a
    *      line — the common hand-edited-shard case);
    *   3: an escape-heavy object (\" \\ \\uXXXX, nested array/object,
    *      negative scientific number) + a top-level ARRAY line;
    *   4: a blank line between two objects (not a record — flagged
    *      blank, never json-validated).
    */
  def syntheticJsonlPayload(id: Long): Array[Byte] = {
    val f = (id % 5).toInt
    def obj(i: Int): String = {
      val k = (5 + (id + i) % 20).toInt
      s"""{"id":$id,"text":"${("" + ('a' + i).toChar) * k}"}"""
    }
    val fancy = """{"k":"a\"b\\c","l":[1,-2.5e3,{"m":null},true,false],"u":"A"}"""
    val lines: Seq[String] = f match {
      case 0 => Seq(obj(0), obj(1), obj(2))
      case 1 => Seq(obj(0), obj(1).dropRight(2), obj(2))
      case 2 => Seq(obj(0), obj(1))
      case 3 => Seq(fancy, "[1,2,3]")
      case _ => Seq(obj(0), "", obj(2))
    }
    val s = if (f == 2) lines.mkString("\n") else lines.mkString("", "\n", "\n")
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** JSONL record walk — THE interchange format of LLM training data
    * (one JSON document per newline-framed line): per line, offset,
    * byte length, structural kind (object / array / scalar / blank),
    * a STRICT from-scratch RFC-8259 validity verdict, and the line's
    * md5. Framing and validity are independent by design: a corrupt
    * line flags and the walk CONTINUES (newlines still frame it — one
    * bad record must not discard the shard's tail, the m22/m28
    * policy); a final line without trailing newline is a line (EOF
    * terminates); blank lines are counted but are not records. Total:
    * any byte stream yields rows, never a throw.
    *
    * Scale shape: typed mapPartitions in the scan stage, zero
    * exchange; line bytes feed only the validator and digest.
    */
  def jsonlRecords(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, raw) =>
          val b = new ByteCursor(raw).bytes
          val n = b.length
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Int, Long, Long, String, Int, String)]
          var p = 0; var idx = 0
          while (p < n) {
            var e = p
            while (e < n && b(e) != '\n') e += 1
            val len = e - p
            val line = new String(b, p, len, java.nio.charset.StandardCharsets.UTF_8)
            md.reset(); md.update(b, p, len)
            val hex = md.digest().map("%02x".format(_)).mkString
            val t = line.trim
            val kind =
              if (t.isEmpty) "blank"
              else t.charAt(0) match {
                case '{' => "object"
                case '[' => "array"
                case _ => "scalar"
              }
            val valid = if (t.nonEmpty && jsonValid(line)) 1 else 0
            out += ((id, idx, p.toLong, len.toLong, kind, valid, hex))
            idx += 1
            p = e + 1
          }
          out
        }
      }
      .toDF("doc_id", "idx", "l_off", "l_len", "kind", "valid", "payload_md5")
  }

  /** JSONL shard payload assembly — the WRITE side of [[jsonlRecords]]
    * and the materialization of [[tokenShards]]' plan: group documents
    * into token-budgeted shards (t31's exact two-phase prefix sum),
    * serialize each doc as one `{"id":N,"text":"..."}` line (the FULL
    * RFC-8259 escape set: \\ \" plus every control char U+0000–U+001F —
    * \b \t \n \f \r by their short forms, the rest as \u00XX — literal
    * `replace` chains, NO regex, mirrored verbatim by the oracle; the
    * emitted lines therefore parse valid under [[jsonValid]] for ANY
    * input text, pinned by the t61→m29 round-trip law in
    * DataPipeSpec), and emit per shard the
    * doc count, payload byte length, and payload md5 — the exact
    * artifact a trainer's data loader reads, checksummable against the
    * t59 manifest receipts. Lines order by doc_id within a shard
    * (deterministic across partitionings — `array_sort` on the
    * (doc_id, line) struct), with the trailing newline of the JSONL
    * convention.
    *
    * Scale shape: t31's bucketed prefix sum, one doc_id-keyed join, one
    * shard-keyed aggregation whose state is bounded by the TOKEN BUDGET
    * per shard (collect_list holds one shard's lines, never the
    * corpus). For the real write path, swap the md5 projection for a
    * partitionBy("shard") text sink — the assembly plan is identical.
    */
  def jsonlShardPayloads(docs: DataFrame, budget: Long = 4096L): DataFrame =
    jsonlShardsAssembled(docs, budget)
      .select(col("shard"), col("n_docs"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("payload_md5"))

  /** The assembled (shard, n_docs, payload) frame behind
    * [[jsonlShardPayloads]] — the exact bytes the real write path would
    * sink per shard, exposed so the t61→m29 round-trip law (DataPipeSpec)
    * can feed them back through [[jsonlRecords]] and pin the shared JSONL
    * convention from both sides.
    */
  def jsonlShardsAssembled(docs: DataFrame, budget: Long = 4096L): DataFrame = {
    val esc = jsonStringEscapes
      .foldLeft(col("text")) { case (c, (a, b)) => replace(c, lit(a), lit(b)) }
    val line = concat(lit("{\"id\":"), col("doc_id"),
      lit(",\"text\":\""), esc, lit("\"}"))
    docs.join(tokenShards(docs, budget).select("doc_id", "shard"), "doc_id")
      .select(col("shard"), struct(col("doc_id"), line.as("line")).as("dl"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        concat(array_join(transform(array_sort(collect_list(col("dl"))),
          x => x.getField("line")), "\n"), lit("\n")).as("payload"))
  }

  /** NumPy `.npy` header walker — the THIRD tensor-shard format beside
    * TFRecord (m22) and Avro OCF (m28): embedding tables and
    * tokenized-corpus arrays routinely ship as `.npy`/`.npz` members,
    * and an ingest that can audit them without NumPy on the executors
    * needs exactly this walk. Parses the public format (numpy
    * `lib/format.py` spec): `\x93NUMPY` magic, (major, minor) version,
    * header length as uint16-LE (v1) or uint32-LE (v2/v3), then the
    * ASCII dict literal `{'descr': …, 'fortran_order': …, 'shape': …}`
    * — parsed by a from-scratch scanner (keys any order, int-tuple
    * shapes incl. the 0-dim `()` and 1-dim `(n,)` forms, NO eval), item
    * size from the digits after the descr's type char (×4 for `U`
    * UCS-4 strings; `[unit]` suffixes of datetime dtypes ignored, so
    * `<M8[ns]` reads as 8 bytes). Status ladder (first
    * failure wins): not_npy > bad_version > truncated_header >
    * bad_header > short_data > ok; trailing bytes after the declared
    * data extent are tolerated (concatenated-stream convention).
    * Declared header_len is emitted as soon as it parses, so a
    * truncated header still reports how long it claimed to be.
    *
    * Scale shape: mapPartitions in the scan stage, zero exchange — the
    * m-family rule; only header-plane fields leave the executor, never
    * tensor bytes.
    */
  def npyHeaders(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, raw) =>
        val c = new ByteCursor(raw)
        val n = c.length
        def fail(st: String, ver: Option[String] = None, hlen: Option[Long] = None):
            (Long, String, Option[String], Option[String], Option[Boolean],
              Option[Int], Option[Long], Option[Int], Option[Long], Option[Long]) =
          (id, st, ver, None, None, None, None, None, hlen, None)
        if (!c.fits(0, 8) || !c.has(0, "\u0093NUMPY")) fail("not_npy")
        else {
          val maj = c.u8(6)
          val min = c.u8(7)
          val ver = Some(s"$maj.$min")
          if (maj < 1 || maj > 3) fail("bad_version", ver)
          else {
            val pre = if (maj == 1) 10 else 12
            if (n < pre) fail("truncated_header", ver)
            else {
              val hlen = c.le(8, pre - 8)
              val hdrEnd = pre + hlen
              if (hdrEnd > n) fail("truncated_header", ver, Some(hlen))
              else {
                val hdr = c.ascii(pre, hlen.toInt)
                // from-scratch dict-literal scan
                var p = 0
                val m = scala.collection.mutable.HashMap.empty[String, Any]
                def ws(): Unit = while (p < hdr.length &&
                  (hdr(p) == ' ' || hdr(p) == '\n')) p += 1
                var ok = hdr.nonEmpty && hdr.last == '\n'
                ws()
                if (!ok || p >= hdr.length || hdr(p) != '{') ok = false
                else {
                  p += 1
                  var open = true
                  while (ok && open) {
                    ws()
                    if (p < hdr.length && hdr(p) == '}') { p += 1; open = false }
                    else if (p < hdr.length && hdr(p) == '\'') {
                      val e = hdr.indexOf('\'', p + 1)
                      if (e < 0) ok = false
                      else {
                        val key = hdr.substring(p + 1, e)
                        p = e + 1; ws()
                        if (p >= hdr.length || hdr(p) != ':') ok = false
                        else {
                          p += 1; ws()
                          if (p < hdr.length && hdr(p) == '\'') {
                            val e2 = hdr.indexOf('\'', p + 1)
                            if (e2 < 0) ok = false
                            else { m(key) = hdr.substring(p + 1, e2); p = e2 + 1 }
                          } else if (hdr.startsWith("True", p)) { m(key) = true; p += 4 }
                          else if (hdr.startsWith("False", p)) { m(key) = false; p += 5 }
                          else if (p < hdr.length && hdr(p) == '(') {
                            p += 1
                            val dims = scala.collection.mutable.ArrayBuffer.empty[Long]
                            var tup = true
                            while (ok && tup) {
                              ws()
                              if (p < hdr.length && hdr(p) == ')') { p += 1; tup = false }
                              else {
                                val s0 = p
                                while (p < hdr.length && hdr(p).isDigit) p += 1
                                // 18-digit cap: fits a Long; a longer run
                                // is garbage, not a tensor dimension
                                if (p == s0 || p - s0 > 18) ok = false
                                else {
                                  dims += hdr.substring(s0, p).toLong
                                  ws()
                                  if (p < hdr.length && hdr(p) == ',') p += 1
                                  else if (p < hdr.length && hdr(p) == ')') ()
                                  else ok = false
                                }
                              }
                            }
                            if (ok) m(key) = dims.toSeq
                          } else ok = false
                          if (ok) {
                            ws()
                            if (p < hdr.length && hdr(p) == ',') p += 1
                          }
                        }
                      }
                    } else ok = false
                  }
                }
                val descr = m.get("descr").collect { case s: String => s }
                val fortran = m.get("fortran_order").collect { case x: Boolean => x }
                val shape = m.get("shape").collect { case s: Seq[_] =>
                  s.collect { case l: Long => l } }
                // numpy descr grammar: optional byte-order char, one type
                // char, digits, optional [unit] suffix. Item size = the
                // digits AFTER the type char (trailing-digit parsing would
                // fail '<M8[ns]' datetimes entirely), times 4 for 'U'
                // (UCS-4 code points, the one dtype whose digit count is
                // not bytes). 9-digit cap fits an Int.
                val itemSize = descr.flatMap { d =>
                  var q = 0
                  if (q < d.length && "<>|=".indexOf(d.charAt(q).toInt) >= 0) q += 1
                  if (q >= d.length) None
                  else {
                    val tc = d.charAt(q)
                    q += 1
                    val s0 = q
                    while (q < d.length && d.charAt(q).isDigit) q += 1
                    // 1e8-element cap: 4x it still fits an Int, and no
                    // physical dtype is 100 MB/element — a larger claim
                    // is a corrupt header, not a tensor
                    if (q == s0 || q - s0 > 9) None
                    else d.substring(s0, q).toInt match {
                      case base if base > 100000000 => None
                      case base => Some(if (tc == 'U') 4 * base else base)
                    }
                  }
                }
                // overflow-checked extent: a crafted shape like
                // (9e17, 9e17) must surface as bad_header, never wrap
                // into a negative expected length that reads as 'ok'
                val extent: Option[(Long, Long)] = // (nElems, expected)
                  if (shape.isEmpty || itemSize.isEmpty) None
                  else try {
                    val ne = shape.get.foldLeft(1L)(Math.multiplyExact)
                    Some((ne, Math.multiplyExact(itemSize.get.toLong, ne)))
                  } catch { case _: ArithmeticException => None }
                if (!ok || descr.isEmpty || fortran.isEmpty || extent.isEmpty)
                  fail("bad_header", ver, Some(hlen))
                else {
                  val (nElems, expected) = extent.get
                  val dataLen = n - hdrEnd
                  val st = if (dataLen < expected) "short_data" else "ok"
                  (id, st, ver, descr, fortran, Some(shape.get.length),
                    Some(nElems), itemSize, Some(hlen), Some(dataLen))
                }
              }
            }
          }
        }
      }
      .toDF("doc_id", "status", "version", "descr", "fortran", "n_dims",
        "n_elems", "item_size", "header_len", "data_len")
  }

  /** Deterministic synthetic `.npy` payloads for [[npyHeaders]] — six
    * families by doc_id % 6 (k0 = 2+id%7, k1 = 1+id%5):
    *   0: clean v1.0 `<f8` (k0, k1) matrix, exact data;
    *   1: clean v2.0 `<i4` (k0,) vector — pins the uint32 header-length
    *      branch and the 1-tuple shape form;
    *   2: not npy (bad magic);
    *   3: v1.0 declaring (1000+k0,) f8 with only 3 data bytes
    *      (short_data);
    *   4: v1.0 truncated INSIDE the padded header (truncated_header
    *      with the declared length still reported);
    *   5: v1.0 `|u1` 0-dim scalar `()` — n_elems 1, one data byte.
    * Headers are 64-byte aligned with space padding + trailing newline,
    * exactly the writer convention the spec prescribes.
    */
  def syntheticNpyPayload(id: Long): Array[Byte] = {
    val f = (id % 6).toInt
    if (f == 2) return "NOTNPYDATA".getBytes("US-ASCII")
    val k0 = (2 + id % 7).toInt
    val k1 = (1 + id % 5).toInt
    val (verMaj, descr, shape) = f match {
      case 0 => (1, "<f8", Seq(k0, k1))
      case 1 => (2, "<i4", Seq(k0))
      case 3 => (1, "<f8", Seq(1000 + k0))
      case 4 => (1, "<f8", Seq(k0))
      case _ => (1, "|u1", Seq.empty[Int])
    }
    val itemSize = descr.reverse.takeWhile(_.isDigit).reverse.toInt
    val shapeStr = shape match {
      case Seq() => "()"
      case Seq(a) => s"($a,)"
      case s => s.mkString("(", ", ", ")")
    }
    val dict = s"{'descr': '$descr', 'fortran_order': False, 'shape': $shapeStr, }"
    val pre = if (verMaj == 1) 10 else 12
    val hlen = ((pre + dict.length + 1 + 63) / 64) * 64 - pre
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    bb += 0x93.toByte
    bb ++= "NUMPY".getBytes("US-ASCII")
    bb += verMaj.toByte
    bb += 0.toByte
    bb ++= ByteCursor.le(hlen, if (verMaj == 1) 2 else 4)
    bb ++= (dict + " " * (hlen - dict.length - 1) + "\n").getBytes("US-ASCII")
    if (f == 4) return bb.take(pre + 5).toArray
    val nData = if (f == 3) 3 else itemSize * shape.foldLeft(1)(_ * _)
    (0 until nData).foreach(i => bb += ((id + i) & 0xff).toByte)
    bb.toArray
  }

  /** safetensors header walker — the FOURTH tensor-shard format beside
    * TFRecord (m22), Avro OCF (m28), and `.npy` (m30): model weights and
    * pre-computed embedding shards overwhelmingly ship as safetensors,
    * and an ingest auditing them needs only the header plane. Parses the
    * public format (huggingface/safetensors README): an 8-byte uint64-LE
    * header length N, then N bytes of UTF-8 JSON mapping tensor name →
    * `{"dtype": …, "shape": [...], "data_offsets": [begin, end]}` (plus
    * an optional `"__metadata__"` string→string object), then the byte
    * buffer tensors index into with offsets relative to its start.
    * Writers pad the JSON with trailing spaces so the buffer lands
    * 8-aligned; the scanner tolerates any trailing JSON whitespace.
    *
    * Status ladder (first failure wins): too_short (no 8-byte length) >
    * bad_header_len (N = 0, negative as int64, > 100 MB cap, or
    * overruns the file — the declared N is still reported) > bad_json
    * (header text fails the safetensors JSON grammar: top-level object,
    * string keys, tensor objects of strings / unsigned-int arrays,
    * string-valued metadata — parsed by a from-scratch scanner with full
    * escape decoding, NO library; RFC-8259-strict on the edges lenient
    * hand parsers miss: exactly one comma between members, no trailing
    * commas, ASCII digits only with no leading zeros, ASCII hex in
    * `\\uXXXX`) > bad_schema (grammar-valid but
    * semantically wrong: an unsigned integer past int64, unknown
    * dtype, missing / duplicate / unknown tensor key, offsets arity ≠ 2
    * or begin > end, end−begin ≠
    * prod(shape)·itemsize with multiplyExact overflow armor, duplicate
    * tensor name, or a non-contiguous / overlapping offset cover — the
    * spec requires tensors to tile the buffer from 0 gap-free) >
    * short_data (buffer shorter than the declared cover; rows still
    * emitted) > ok. A file with zero tensors (legal: `{}`) emits one
    * `empty` row. Valid files emit ONE ROW PER TENSOR in buffer order
    * with the file-level status on every row; trailing bytes past the
    * cover are tolerated (concatenated-stream convention, as m30).
    *
    * Scale shape: map in the scan stage, zero exchange — the m-family
    * rule; only name/dtype/shape/offset fields leave the executor,
    * never tensor bytes.
    */
  def safetensorsHeaders(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    val dtypeSize = Map(
      "BOOL" -> 1, "U8" -> 1, "I8" -> 1, "F8_E4M3" -> 1, "F8_E5M2" -> 1,
      "U16" -> 2, "I16" -> 2, "F16" -> 2, "BF16" -> 2,
      "U32" -> 4, "I32" -> 4, "F32" -> 4,
      "U64" -> 8, "I64" -> 8, "F64" -> 8)
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, raw) =>
        val c = new ByteCursor(raw)
        val n = c.length
        def one(st: String, hlen: Option[Long] = None):
            Seq[(Long, String, Option[String], Option[String], Option[Int],
              Option[Long], Option[Int], Option[Long], Option[Long],
              Option[Long], Option[Long])] =
          Seq((id, st, None, None, None, None, None, None, None, hlen, None))
        if (n < 8) one("too_short")
        else {
          val hlen = c.le(0, 8)
          if (hlen <= 0 || hlen > 100000000L || 8 + hlen > n)
            one("bad_header_len", Some(hlen))
          else {
            val s = new String(c.bytes, 8, hlen.toInt, "UTF-8")
            val nn = s.length
            var p = 0
            // from-scratch scanner over the safetensors JSON grammar
            def ws(): Unit = while (p < nn && (s(p) == ' ' || s(p) == '\t' ||
              s(p) == '\n' || s(p) == '\r')) p += 1
            def str(): Option[String] = {
              if (p >= nn || s(p) != '"') None
              else {
                p += 1
                val sb = new StringBuilder
                var bad = false
                while (!bad && p < nn && s(p) != '"') {
                  val c = s(p)
                  if (c == '\\') {
                    if (p + 1 >= nn) bad = true
                    else s(p + 1) match {
                      case '"' => sb += '"'; p += 2
                      case '\\' => sb += '\\'; p += 2
                      case '/' => sb += '/'; p += 2
                      case 'b' => sb += '\b'; p += 2
                      case 'f' => sb += '\f'; p += 2
                      case 'n' => sb += '\n'; p += 2
                      case 'r' => sb += '\r'; p += 2
                      case 't' => sb += '\t'; p += 2
                      case 'u' =>
                        // ASCII hex only — Character.digit would admit
                        // full-width and other Unicode hex forms
                        def hex(c: Char): Boolean = (c >= '0' && c <= '9') ||
                          (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
                        if (p + 6 > nn || !(2 to 5).forall(i => hex(s(p + i))))
                          bad = true
                        else {
                          sb += Integer.parseInt(s.substring(p + 2, p + 6), 16).toChar
                          p += 6
                        }
                      case _ => bad = true
                    }
                  } else if (c < ' ') bad = true
                  else { sb += c; p += 1 }
                }
                if (bad || p >= nn) None else { p += 1; Some(sb.toString) }
              }
            }
            // parse: collect (name, dtype, shape, offsets) per tensor;
            // grammar failure → bad_json, semantic failure → bad_schema
            var fail: String = null
            def failJson(): Unit = if (fail == null) fail = "bad_json"
            def failSchema(): Unit = if (fail == null) fail = "bad_schema"
            def uint(): Option[Long] = {
              // ASCII digits only (isDigit admits Unicode numerals) and
              // no leading zeros — the JSON number grammar; a valid
              // number past Long.MaxValue is the overflow rung
              val s0 = p
              while (p < nn && s(p) >= '0' && s(p) <= '9') p += 1
              if (p == s0 || (p - s0 > 1 && s(s0) == '0')) None
              else {
                val v = s.substring(s0, p).toLongOption
                if (v.isEmpty) failSchema()
                Some(v.getOrElse(Long.MaxValue))
              }
            }
            def uintArray(): Option[Seq[Long]] = {
              if (p >= nn || s(p) != '[') None
              else {
                p += 1; ws()
                val out = scala.collection.mutable.ArrayBuffer.empty[Long]
                var bad = false
                var open = p >= nn || s(p) != ']'
                if (!open) p += 1
                while (!bad && open) {
                  uint() match {
                    case None => bad = true
                    case Some(v) =>
                      out += v; ws()
                      if (p < nn && s(p) == ',') { p += 1; ws() }
                      else if (p < nn && s(p) == ']') { p += 1; open = false }
                      else bad = true
                  }
                }
                if (bad) None else Some(out.toSeq)
              }
            }
            final case class T(name: String, dtype: String, shape: Seq[Long],
              b0: Long, b1: Long)
            val tensors = scala.collection.mutable.ArrayBuffer.empty[T]
            ws()
            if (p >= nn || s(p) != '{') failJson()
            else {
              p += 1
              var open = true
              while (fail == null && open) {
                ws()
                if (p < nn && s(p) == '}') { p += 1; open = false }
                else str() match {
                  case None => failJson()
                  case Some(key) =>
                    ws()
                    if (p >= nn || s(p) != ':') failJson()
                    else {
                      p += 1; ws()
                      if (key == "__metadata__") {
                        // string → string object
                        if (p >= nn || s(p) != '{') failJson()
                        else {
                          p += 1
                          var mOpen = true
                          while (fail == null && mOpen) {
                            ws()
                            if (p < nn && s(p) == '}') { p += 1; mOpen = false }
                            else if (str().isEmpty) failJson()
                            else {
                              ws()
                              if (p >= nn || s(p) != ':') failJson()
                              else {
                                p += 1; ws()
                                if (str().isEmpty) failJson()
                                else {
                                  ws()
                                  if (p < nn && s(p) == ',') {
                                    p += 1; ws()
                                    if (p >= nn || s(p) != '"') failJson()
                                  } else if (p >= nn || s(p) != '}') failJson()
                                }
                              }
                            }
                          }
                        }
                      } else if (p >= nn || s(p) != '{') failJson()
                      else {
                        p += 1
                        var dtype: Option[String] = None
                        var shape: Option[Seq[Long]] = None
                        var offs: Option[Seq[Long]] = None
                        var tOpen = true
                        while (fail == null && tOpen) {
                          ws()
                          if (p < nn && s(p) == '}') { p += 1; tOpen = false }
                          else str() match {
                            case None => failJson()
                            case Some(tk) =>
                              ws()
                              if (p >= nn || s(p) != ':') failJson()
                              else {
                                p += 1; ws()
                                tk match {
                                  case "dtype" =>
                                    if (dtype.nonEmpty) failSchema()
                                    else str() match {
                                      case None => failJson()
                                      case d => dtype = d
                                    }
                                  case "shape" =>
                                    if (shape.nonEmpty) failSchema()
                                    else uintArray() match {
                                      case None => failJson()
                                      case sh => shape = sh
                                    }
                                  case "data_offsets" =>
                                    if (offs.nonEmpty) failSchema()
                                    else uintArray() match {
                                      case None => failJson()
                                      case o => offs = o
                                    }
                                  case _ => failSchema()
                                }
                                if (fail == null) {
                                  ws()
                                  if (p < nn && s(p) == ',') {
                                    p += 1; ws()
                                    if (p >= nn || s(p) != '"') failJson()
                                  } else if (p >= nn || s(p) != '}') failJson()
                                }
                              }
                          }
                        }
                        if (fail == null) {
                          if (dtype.isEmpty || shape.isEmpty || offs.isEmpty ||
                            offs.get.length != 2) failSchema()
                          else tensors += T(key, dtype.get, shape.get,
                            offs.get(0), offs.get(1))
                        }
                      }
                      if (fail == null) {
                        ws()
                        // members separated by EXACTLY one comma, no
                        // trailing comma — RFC 8259 object grammar
                        if (p < nn && s(p) == ',') {
                          p += 1; ws()
                          if (p >= nn || s(p) != '"') failJson()
                        } else if (p >= nn || s(p) != '}') failJson()
                      }
                    }
                }
              }
              if (fail == null) { ws(); if (p != nn) failJson() }
            }
            // semantic validation: dtype known, size arithmetic exact,
            // names unique, offsets tile the buffer from 0 gap-free
            val checked: Seq[(T, Long, Int)] =
              if (fail != null) Seq.empty
              else {
                val out = scala.collection.mutable.ArrayBuffer.empty[(T, Long, Int)]
                tensors.foreach { t =>
                  if (fail == null) dtypeSize.get(t.dtype) match {
                    case None => failSchema()
                    case Some(isz) =>
                      val ext = try {
                        val ne = t.shape.foldLeft(1L)(Math.multiplyExact)
                        Some((ne, Math.multiplyExact(isz.toLong, ne)))
                      } catch { case _: ArithmeticException => None }
                      if (ext.isEmpty || t.b0 > t.b1 ||
                        t.b1 - t.b0 != ext.get._2) failSchema()
                      else out += ((t, ext.get._1, isz))
                  }
                }
                if (fail == null) {
                  if (out.map(_._1.name).distinct.length != out.length) failSchema()
                  else {
                    // (b0, b1) tiebreak: a zero-size tensor [c, c) must
                    // sort before the non-zero tensor starting at c, or
                    // a spec-valid gap-free cover would be rejected
                    val sorted = out.sortBy(x => (x._1.b0, x._1.b1))
                    var cursor = 0L
                    sorted.foreach { case (t, _, _) =>
                      if (fail == null && t.b0 != cursor) failSchema()
                      cursor = t.b1
                    }
                    if (fail == null) { out.clear(); out ++= sorted }
                  }
                }
                out.toSeq
              }
            if (fail != null) one(fail, Some(hlen))
            else {
              val dataLen = n - 8 - hlen
              if (checked.isEmpty) Seq((id, "empty", None, None, None, None,
                None, None, None, Some(hlen), Some(dataLen)))
              else {
                val cover = checked.map(_._1.b1).max
                val st = if (dataLen < cover) "short_data" else "ok"
                checked.map { case (t, ne, isz) =>
                  (id, st, Some(t.name), Some(t.dtype), Some(t.shape.length),
                    Some(ne), Some(isz), Some(t.b0), Some(t.b1),
                    Some(hlen), Some(dataLen))
                }
              }
            }
          }
        }
      }
      .toDF("doc_id", "status", "name", "dtype", "n_dims", "n_elems",
        "item_size", "off_begin", "off_end", "header_len", "data_len")
  }

  /** Deterministic synthetic safetensors payloads for
    * [[safetensorsHeaders]] — six families by doc_id % 6
    * (k0 = 2+id%7, k1 = 1+id%5):
    *   0: clean two-tensor file — `emb` F32 (k0,k1) then `ids` I64 (k0,)
    *      tiling the buffer, plus a `__metadata__` object;
    *   1: clean one-tensor F16 (k1,) — pins the single-tensor path;
    *   2: header length declares 1000+k0 over a 4-byte body
    *      (bad_header_len, declared value still reported);
    *   3: grammar-truncated JSON, unpadded exact length (bad_json);
    *   4: data_offsets end exceeds prod(shape)·itemsize by 1
    *      (bad_schema);
    *   5: 0-dim F64 scalar `[]` declaring [0,8) with only 3 buffer
    *      bytes (short_data).
    * Valid-grammar headers are space-padded so the buffer lands
    * 8-aligned — the writer convention the spec prescribes.
    */
  def syntheticSafetensorsPayload(id: Long): Array[Byte] = {
    val f = (id % 6).toInt
    val k0 = 2 + id % 7
    val k1 = 1 + id % 5
    val e0 = 4 * k0 * k1
    val (json, declared, buf): (String, Option[Long], Int) = f match {
      case 0 => (s"""{"emb":{"dtype":"F32","shape":[$k0,$k1],"data_offsets":[0,$e0]},"ids":{"dtype":"I64","shape":[$k0],"data_offsets":[$e0,${e0 + 8 * k0}]},"__metadata__":{"format":"graft"}}""",
        None, (e0 + 8 * k0).toInt)
      case 1 => (s"""{"w":{"dtype":"F16","shape":[$k1],"data_offsets":[0,${2 * k1}]}}""",
        None, (2 * k1).toInt)
      case 2 => ("{}  ", Some(1000L + k0), 0)
      case 3 => ("""{"w":{"dtype":"F32","shape":[""", None, 0)
      case 4 => (s"""{"w":{"dtype":"F32","shape":[$k0],"data_offsets":[0,${4 * k0 + 1}]}}""",
        None, (4 * k0 + 1).toInt)
      case _ => ("""{"s":{"dtype":"F64","shape":[],"data_offsets":[0,8]}}""",
        None, 3)
    }
    val hlen: Long = f match {
      case 2 => declared.get
      case 3 => json.length.toLong
      case _ => ((8L + json.length + 7) / 8) * 8 - 8
    }
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    bb ++= ByteCursor.le(hlen, 8)
    val padded = if (f == 2 || f == 3) json
      else json + " " * (hlen.toInt - json.length)
    bb ++= padded.getBytes("UTF-8")
    (0 until buf).foreach(i => bb += ((id + i) & 0xff).toByte)
    bb.toArray
  }

  /** Release-integrity audit over the receipt pair a corpus release
    * ships: [[shardManifest]] rows (t59) vs [[jsonlShardPayloads]] rows
    * (t61) full-outer joined on shard — the p19 NULL-side convention
    * (absent ≠ zero). A manifest whose payload artifact is missing, a
    * payload no manifest accounts for, and a doc-count disagreement
    * each get their own verdict rung (precedence: missing_manifest >
    * missing_payload > doc_count_mismatch > consistent), so a release
    * gate can block on `verdict != 'consistent'` and a repair job can
    * route by rung. This is the audit a trainer runs BEFORE pointing a
    * data loader at a shard directory: both receipts are metadata-plane
    * tables (shard-cardinality), so the audit costs one tiny join
    * regardless of corpus size.
    */
  def releaseAudit(manifests: DataFrame, payloads: DataFrame): DataFrame = {
    val m = manifests.select(col("shard"), col("n_docs").as("m_docs"),
      col("n_tokens"), col("checksum"))
    val p = payloads.select(col("shard"), col("n_docs").as("p_docs"),
      col("n_bytes"), col("payload_md5"))
    m.join(p, Seq("shard"), "full_outer")
      .select(col("shard"), col("m_docs"), col("p_docs"), col("n_tokens"),
        col("n_bytes"), col("payload_md5"),
        when(col("m_docs").isNull, lit("missing_manifest"))
          .when(col("p_docs").isNull, lit("missing_payload"))
          .when(col("m_docs") =!= col("p_docs"), lit("doc_count_mismatch"))
          .otherwise(lit("consistent")).as("verdict"))
  }

  /** Tensor-shard integrity audit — the model-plane analog of
    * [[releaseAudit]] (p20): where p20 reconciles a TEXT release's
    * manifests against its payload receipts, this reconciles what a
    * directory of safetensors shards actually DECLARES
    * ([[safetensorsHeaders]] rows, m31) against what the embedding /
    * weight store's manifest says each shard must contain — the gate a
    * trainer runs before pointing a loader at the shard directory.
    *
    * `expected` carries one row per (shard, tensor name) with
    * `exp_dtype` / `exp_elems`; headers are reduced to a per-shard file
    * status (identical on every row of a shard by m31's construction —
    * `min` is just the reduction) plus the ok-file tensor rows, then
    * full-outer joined on (shard, name) with the p19/p20 NULL-side
    * convention (absent ≠ zero). Verdict ladder (first match wins):
    * missing_shard (manifest names a shard no file walk saw) >
    * unreadable_shard (file present but its walk status is a failure —
    * every expected tensor of that shard gets the rung, so a repair job
    * sees the full blast radius; the legal zero-tensor `empty` file is
    * READABLE and falls through to missing_tensor instead) >
    * missing_tensor > unexpected_tensor >
    * shape_mismatch (dtype or element-count disagreement) > consistent.
    *
    * Scale shape: both sides are metadata-plane tables (shard × tensor
    * cardinality — headers never carry tensor bytes), so the audit is
    * two shard-keyed joins of tiny frames regardless of corpus size.
    */
  def tensorShardAudit(headers: DataFrame, expected: DataFrame): DataFrame = {
    // branch point: status reduction AND tensor rows both consume the
    // header walk — without the persist the full safetensors parse of
    // every shard executes twice in one job
    val hdr = headers
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val status = hdr.groupBy(col("doc_id").as("shard"))
      .agg(min("status").as("status"))
    val h = hdr.filter(col("status") === "ok")
      .select(col("doc_id").as("shard"), col("name"), col("dtype"),
        col("n_elems"))
    val e = expected.select(col("shard"), col("name"), col("exp_dtype"),
      col("exp_elems"))
    h.join(e, Seq("shard", "name"), "full_outer")
      .join(status, Seq("shard"), "left")
      .select(col("shard"), col("name"), col("dtype"), col("exp_dtype"),
        col("n_elems"), col("exp_elems"), col("status"),
        when(col("status").isNull, lit("missing_shard"))
          // 'empty' (the legal zero-tensor file) is READABLE — its
          // expected tensors are missing, not unreadable; a repair job
          // must not be told to quarantine a well-formed file
          .when(col("status") =!= "ok" && col("status") =!= "empty",
            lit("unreadable_shard"))
          .when(col("dtype").isNull, lit("missing_tensor"))
          .when(col("exp_dtype").isNull, lit("unexpected_tensor"))
          .when(col("dtype") =!= col("exp_dtype") ||
            col("n_elems") =!= col("exp_elems"), lit("shape_mismatch"))
          .otherwise(lit("consistent")).as("verdict"))
  }

  /** The RFC-8259 string escape table as ordered (literal, replacement)
    * pairs — backslash FIRST (later replacements introduce backslashes
    * that must not be re-escaped), then quote, the five short-form
    * control escapes, and every remaining U+0000–U+001F as \u00XX
    * (lowercase hex). Shared by [[jsonlShardPayloads]] and its oracle
    * builder so the two chains cannot drift.
    */
  val jsonStringEscapes: Seq[(String, String)] =
    Seq("\\" -> "\\\\", "\"" -> "\\\"", "\b" -> "\\b", "\t" -> "\\t",
      "\n" -> "\\n", "\f" -> "\\f", "\r" -> "\\r") ++
      (0 until 0x20).filterNot(Seq(0x08, 0x09, 0x0a, 0x0c, 0x0d).contains)
        .map(c => c.toChar.toString -> f"\\u$c%04x")

  /** Synthetic Avro Object-Container-File payloads for [[avroBlocks]] —
    * five families keyed by doc_id % 5 (block i: s = 10+(id+i)%50 data
    * bytes of chr('a'+i), o = 1+(id+i)%7 declared objects; sync marker
    * byte j = (id*31+j) & 0xff):
    *   0: clean 2-block file, codec null, positive-count metadata map;
    *   1: clean 3-block file, codec deflate, metadata map written in
    *      the NEGATIVE-count + byte-size form the spec allows (pins the
    *      reader's other map branch), block 1's sync first byte flipped
    *      — sync_ok=0 for that row, walk CONTINUES (the size field
    *      already fixed the boundary; one bad marker must not discard
    *      the shard's tail — the m22 data-crc policy);
    *   2: not Avro (bad magic);
    *   3: block 1 declares 1000+s bytes with 3 present (truncated;
    *      block 0 kept);
    *   4: EOF right after the metadata terminator, before the header
    *      sync (truncated, codec already parsed).
    */
  def syntheticAvroPayload(id: Long): Array[Byte] = {
    import ByteCursor.zigzag
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    val f = (id % 5).toInt
    if (f == 2) return "NotAnAvroFile".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def wstr(s: String): Unit = {
      bb ++= zigzag(s.length.toLong)
      bb ++= s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }
    val codec = if (f == 1) "deflate" else "null"
    val sync = Array.tabulate(16)(j => ((id * 31 + j) & 0xff).toByte)
    bb ++= Array[Byte]('O', 'b', 'j', 1)
    if (f == 1) {
      // negative-count block: abs(count) entries preceded by their byte size
      bb ++= zigzag(-2L)
      bb ++= zigzag((12 + 8 + 11 + 1 + codec.length).toLong) // 39 for "deflate"
    } else bb ++= zigzag(2L)
    wstr("avro.schema"); wstr("\"bytes\"")
    wstr("avro.codec"); wstr(codec)
    bb ++= zigzag(0L)
    if (f == 4) return bb.toArray
    bb ++= sync
    val nBlocks = if (f == 1) 3 else 2
    var i = 0
    var halt = false
    while (i < nBlocks && !halt) {
      val s = (10 + (id + i) % 50).toInt
      val o = (1 + (id + i) % 7).toLong
      if (f == 3 && i == 1) {
        bb ++= zigzag(o); bb ++= zigzag((1000 + s).toLong)
        bb ++= "xxx".getBytes(java.nio.charset.StandardCharsets.UTF_8)
        halt = true
      } else {
        bb ++= zigzag(o); bb ++= zigzag(s.toLong)
        (0 until s).foreach(_ => bb += ('a' + i).toByte)
        val sy = sync.clone()
        if (f == 1 && i == 1) sy(0) = (sy(0) ^ 0x01).toByte
        bb ++= sy
      }
      i += 1
    }
    bb.toArray
  }

  /** Avro Object-Container-File block walk — the OTHER standard
    * training-shard format next to TFRecord (m22): magic `Obj\x01`,
    * metadata map (both count forms of the spec: positive count, or
    * negative count + byte size), 16-byte sync marker, then data blocks
    * of (object count, byte size, payload, sync). Harvests
    * `avro.codec` from the map; one row per data block with offset,
    * declared object count, payload size, payload md5, and the sync
    * verdict. Policy mirrors m22's two-checksum split exactly: the SIZE
    * field fixes the block boundary, so a MISMATCHED SYNC flags its row
    * and the walk CONTINUES (one corrupt marker must not discard the
    * shard's tail), while a size running past EOF HALTS as `truncated`
    * (every later offset would be a guess). Status: ok / not_avro /
    * truncated. NO resync-by-scanning-for-sync (that is a recovery
    * tool, not a reader).
    *
    * Scale shape: typed mapPartitions in the scan stage, zero exchange;
    * payload bytes feed only the digest.
    */
  def avroBlocks(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val utf8 = java.nio.charset.StandardCharsets.UTF_8
        it.flatMap { case (id, raw) =>
          val c = new ByteCursor(raw)
          // a zigzag length, then that many bytes
          def bytesAt(): (Int, Int) = {
            val k = c.zigzag()
            val at = c.need(c.pos, k)
            c.pos += k.toInt
            (at, k.toInt)
          }
          var codec: String = null
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Int, Long, Long, Long, Int, String)]
          val status =
            if (!c.has(0, "Obj\u0001")) "not_avro"
            else try {
              c.pos = 4
              // metadata map: blocks of (count, entries), count 0 ends it;
              // a negative count is followed by the block's byte size,
              // a boundary hint only
              var count = c.zigzag()
              while (count != 0) {
                if (count < 0) c.zigzag()
                var remaining = math.abs(count)
                while (remaining > 0) {
                  val (ka, kl) = bytesAt()
                  val (va, vl) = bytesAt()
                  if (new String(c.bytes, ka, kl, utf8) == "avro.codec")
                    codec = new String(c.bytes, va, vl, utf8)
                  remaining -= 1
                }
                count = c.zigzag()
              }
              val sync = c.need(c.pos, 16)
              c.pos += 16
              // data blocks: (object count, byte size, payload, sync)
              while (c.pos < c.length) {
                val off = c.pos
                val cnt = c.zigzag()
                val len = c.zigzag()
                if (cnt < 0 || len < 0) throw ByteCursor.Truncated
                val dataAt = c.need(c.pos, len + 16)
                md.reset(); md.update(c.bytes, dataAt, len.toInt)
                val hex = md.digest().map("%02x".format(_)).mkString
                val ok = (0 until 16).forall(j => c.bytes(dataAt + len.toInt + j) == c.bytes(sync + j))
                out += ((out.length, off.toLong, cnt, len, if (ok) 1 else 0, hex))
                c.pos = dataAt + len.toInt + 16
              }
              "ok"
            } catch { case ByteCursor.Truncated | ByteCursor.Overlong => "truncated" }
          entryRows((id, status, Option(codec)), out)
        }
      }
    entryFrame(rows, "doc_id", "status", "codec", "idx", "b_off", "n_objects",
      "n_bytes", "sync_ok", "payload_md5")
  }

  /** Synthetic Parquet-container payloads for [[parquetFooter]] — five
    * families keyed by doc_id % 5 (p = 30+id%40 data bytes,
    * fl = 20+id%50 footer bytes): 0 valid; 1 not parquet; 2 head magic
    * ok but tail magic wrong (a concatenation/truncate-then-append
    * artifact); 3 footer length covering the whole file (corrupt);
    * 4 shorter than the 12-byte minimum.
    */
  def syntheticParquetPayload(id: Long): Array[Byte] = {
    import ByteCursor.le
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def magic(): Unit = bb ++= "PAR1".getBytes("US-ASCII")
    val p = (30 + id % 40).toInt; val fl = (20 + id % 50).toInt
    def fill(k: Int, c: Int): Unit =
      (0 until k).foreach(i => bb += ((c + i % 17) & 0x7f).toByte)
    (id % 5) match {
      case 0 => magic(); fill(p, 'd'); fill(fl, 'm'); bb ++= le(fl.toLong, 4); magic()
      case 1 => bb ++= s"plain text payload $id".getBytes("US-ASCII")
      case 2 => magic(); fill(p, 'd'); fill(fl, 'm'); bb ++= le(fl.toLong, 4)
        bb ++= "XXXX".getBytes("US-ASCII")
      case 3 => magic(); fill(p, 'd'); fill(fl, 'm')
        bb ++= le((p + fl + 100).toLong, 4); magic()
      case _ => magic(); fill(math.min(7, p), 'd')
    }
    bb.toArray
  }

  /** Parquet container sniff — the END-ANCHORED member of the walker
    * series for the lakehouse's own file format (m13's ZIP lesson
    * applied to columnar data): a Parquet file is `PAR1 | row groups |
    * footer metadata | u32le footer_len | PAR1`, and a reader finds
    * the footer from the TAIL — so integrity checking is head magic,
    * tail magic, and the footer-length fitting inside the file
    * (footer_len <= n - 12), three independent failure modes each with
    * its own verdict: `not_parquet` (head), `malformed` (tail magic
    * wrong — the signature of concatenated or truncated-then-appended
    * files), `corrupt_footer` (declared footer overruns the data
    * span — the off-by-ordering write bug), `truncated` (under the
    * 12-byte minimum), else `ok` with footer_len and the footer's
    * start offset. Thrift metadata decoding is deliberately out of
    * scope — the container frame is what an integrity sweep reads,
    * and it never touches row-group bytes.
    *
    * Scale shape: per-row map reading 12 bytes of header/trailer
    * regardless of file size; zero exchange.
    */
  def parquetFooter(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, raw) =>
        val c = new ByteCursor(raw)
        val n = c.length
        if (n < 12)
          (id, if (c.has(0, "PAR1")) "truncated" else "not_parquet",
            None: Option[Long], None: Option[Long], n)
        else if (!c.has(0, "PAR1")) (id, "not_parquet", None, None, n)
        else if (!c.has(n - 4, "PAR1")) (id, "malformed", None, None, n)
        else {
          val fl = c.le(n - 8, 4)
          if (fl > n - 12) (id, "corrupt_footer", Some(fl), None, n)
          else (id, "ok", Some(fl), Some(n - 8 - fl), n)
        }
      }
      .toDF("doc_id", "status", "footer_len", "footer_off", "n_bytes")
  }

  /** Synthetic GIF payloads for [[gifBlocks]] — five families keyed by
    * doc_id % 5 (s = id%3 color-table size bits, k = 1+id%3 frames,
    * m = 1+id%2 sub-blocks per frame, d = 1+id%7 bytes per sub-block):
    * 0 valid GIF89a with global color table + one graphic-control
    * extension + k frames; 1 not a GIF; 2 truncated inside the color
    * table (screen descriptor already parsed); 3 an unknown block
    * introducer after the first frame (malformed mid-stream); 4 valid
    * minimal GIF87a — no color table, no extensions, one frame.
    */
  def syntheticGifPayload(id: Long): Array[Byte] = {
    import ByteCursor.le
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    val s = (id % 3).toInt; val k = (1 + id % 3).toInt
    val m = (1 + id % 2).toInt; val d = (1 + id % 7).toInt
    val w = (100 + id % 50).toInt; val h = (80 + id % 40).toInt
    def lsd(gct: Boolean): Unit = {
      bb ++= le(w, 2); bb ++= le(h, 2)
      bb += (if (gct) (0x80 | s) else s).toByte; bb += 0; bb += 0
    }
    def gctBytes(): Unit = (0 until 3 * (2 << s)).foreach(i => bb += ((i * 7) & 0x7f).toByte)
    def gce(): Unit = { bb ++= Array[Byte](0x21, 0xf9.toByte, 4, 0, 0, 0, 0, 0) }
    def frame(): Unit = {
      bb += 0x2c; bb ++= le(0, 2); bb ++= le(0, 2); bb ++= le(w, 2); bb ++= le(h, 2); bb += 0 // no LCT
      bb += 8 // LZW min code size
      (0 until m).foreach { j =>
        bb += d.toByte; (0 until d).foreach(x => bb += ((j * 31 + x) & 0x7f).toByte)
      }
      bb += 0 // sub-block terminator
    }
    (id % 5) match {
      case 0 =>
        bb ++= "GIF89a".getBytes("US-ASCII"); lsd(gct = true); gctBytes()
        gce(); (0 until k).foreach(_ => frame()); bb += 0x3b
      case 1 => bb ++= s"plain text payload $id".getBytes("US-ASCII")
      case 2 =>
        bb ++= "GIF89a".getBytes("US-ASCII"); lsd(gct = true)
        bb += 1; bb += 2; bb += 3 // three bytes into the color table, then EOF
      case 3 =>
        bb ++= "GIF89a".getBytes("US-ASCII"); lsd(gct = true); gctBytes()
        gce(); frame(); bb += 0x7f; bb += 1; bb += 2; bb += 3
      case _ =>
        bb ++= "GIF87a".getBytes("US-ASCII"); lsd(gct = false); frame(); bb += 0x3b
    }
    bb.toArray
  }

  /** Synthetic protobuf payloads for [[protoFields]] — five families
    * keyed by doc_id % 5 (v = 5+id%20 delimited bytes): 0 a valid
    * 5-field message exercising all four live wire types; 1 the EMPTY
    * message (zero bytes is valid protobuf — pinned); 2 a
    * length-delimited field declaring more bytes than remain;
    * 3 a deprecated group wire type (3) after one good field;
    * 4 a varint whose continuation bit never clears before EOF.
    */
  def syntheticProtoPayload(id: Long): Array[Byte] = {
    import ByteCursor.varint
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    val v = (5 + id % 20).toInt
    def fill(k: Int): Unit = (0 until k).foreach(i => bb += ((i * 5 + 1) & 0x7f).toByte)
    (id % 5) match {
      case 0 =>
        bb += 0x08; bb ++= varint(150 + id % 1000) // field 1 varint, 2-byte value
        bb += 0x12; bb ++= varint(v); fill(v) // field 2 length-delimited
        bb += 0x1d; fill(4) // field 3 fixed32
        bb += 0x21; fill(8) // field 4 fixed64
        bb += 0x28; bb ++= varint(id % 128) // field 5 varint, 1-byte value
      case 1 => // empty
      case 2 => bb += 0x12; bb ++= varint(100); fill(3)
      case 3 => bb += 0x08; bb ++= varint(id % 100); bb += 0x13; fill(2)
      case _ => bb += 0x08; bb += 0x80.toByte; bb += 0x80.toByte; bb += 0x80.toByte
    }
    bb.toArray
  }

  /** Protobuf wire-format field walk — the MSB-CONTINUATION member of
    * the walker series and the seventh length mechanism it catalogues:
    * a varint is LSB-first 7-bit groups whose high bit says "more"
    * (EBML's m20 VINT is the mirror-image scheme — length announced by
    * leading-zero count, big-endian; protobuf announces nothing and
    * streams until a clear bit), and the format has NO magic, NO
    * framing, and NO terminator — an empty byte string is a valid
    * message (pinned), and m22's TFRecord is the container that gives
    * these payloads boundaries. Fields are (tag varint = field_no<<3 |
    * wire_type) then payload by type: 0 varint, 1 fixed64, 2
    * varint-length-delimited, 5 fixed32; types 3/4 (deprecated groups)
    * and 6/7 (reserved) are `malformed`, as is field number 0 (the
    * spec's explicit invalid) and an 11-byte varint (64 bits fit in
    * 10 — the overlong-encoding guard every real parser carries).
    * Truncation (EOF mid-varint, mid-payload, or a delimited length
    * overrunning the remainder) withholds tallies; malformation keeps
    * the pre-fault tallies — the m24 policy split. Tallies: total
    * fields, per-wire-type counts, max field number (NULL for the
    * empty message — no fields is not field 0).
    *
    * Scale shape: per-row typed map in the scan stage, zero exchange.
    */
  def protoFields(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, raw) =>
        val c = new ByteCursor(raw)
        var nf = 0; var nv = 0; var nl = 0; var n32 = 0; var n64 = 0
        var maxF = 0L
        val status = try {
          var v: String = null
          while (v == null && c.pos < c.length) {
            val tag = c.varint()
            val fno = tag >>> 3
            if (fno == 0) v = "malformed"
            else (tag & 7).toInt match {
              case 0 => c.varint(); nv += 1
              case 1 => c.skip(8); n64 += 1
              case 2 => c.skip(c.varint()); nl += 1
              case 5 => c.skip(4); n32 += 1
              case _ => v = "malformed"
            }
            if (v == null) { nf += 1; if (fno > maxF) maxF = fno }
          }
          if (v == null) "ok" else v
        } catch {
          case ByteCursor.Truncated => "truncated"
          case ByteCursor.Overlong => "malformed"
        }
        val noneI = None: Option[Int]
        if (status == "truncated")
          (id, status, noneI, noneI, noneI, noneI, noneI, None: Option[Long], c.length)
        else
          (id, status, Some(nf), Some(nv), Some(nl), Some(n32), Some(n64),
            if (nf == 0) None else Some(maxF), c.length)
      }
      .toDF("doc_id", "status", "n_fields", "n_varint", "n_len",
        "n_fixed32", "n_fixed64", "max_field_no", "n_bytes")
  }

  /** GIF block walk — the SUB-BLOCK-CHAIN member of the walker series
    * and a fourth length mechanism beside ZIP's end-anchored directory
    * (m13), Ogg's 255-run lacing (m21), and TFRecord's checksummed
    * frames (m22): GIF payload data is a chain of `len(1) | data(len)`
    * sub-blocks terminated by a ZERO length byte — so a walker never
    * scans for sentinels, it hops lengths until the in-band 0x00.
    * Structure walked: `GIF87a|GIF89a` header, logical screen
    * descriptor (u16le width/height + packed flags whose low bits size
    * the global color table at `3·2^(bits+1)` bytes — a LOG-encoded
    * length, the fifth encoding), then blocks by introducer: 0x21
    * extension (label + sub-block chain), 0x2C image descriptor
    * (geometry + optional local table + LZW seed + sub-block chain),
    * 0x3B trailer. Verdicts: `not_gif` (header), `truncated` (EOF
    * mid-structure — counts withheld, the boundary is untrustworthy,
    * but width/height survive if the screen descriptor parsed),
    * `malformed` (unknown introducer — counts KEPT, the walk up to the
    * fault is trustworthy; the m22 lesson split across two verdicts),
    * else `ok` with frame/extension/sub-block tallies. Bytes after the
    * trailer are ignored (every real decoder does).
    *
    * Scale shape: per-row typed map in the scan stage, zero exchange.
    */
  def gifBlocks(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, raw) =>
        val c = new ByteCursor(raw)
        val n = c.length
        if (!c.has(0, "GIF87a") && !c.has(0, "GIF89a"))
          (id, "not_gif", None: Option[Int], None: Option[Int],
            None: Option[Int], None: Option[Int], None: Option[Int], n)
        else if (n < 13) (id, "truncated", None, None, None, None, None, n)
        else {
          val w = c.le(6, 2).toInt; val h = c.le(8, 2).toInt
          // a color table of 3·2^(bits+1) bytes follows when the flag is set
          def table(packed: Int) = if ((packed & 0x80) != 0) 3 * (2 << (packed & 7)) else 0
          c.pos = 13 + table(c.u8(10))
          var frames = 0; var exts = 0; var subs = 0
          // hops one len|data sub-block chain past its 0x00 terminator;
          // returns the data sub-block count
          def chain(): Int = {
            var k = 0
            while (c.u8(c.pos) != 0) { c.skip(1 + c.u8(c.pos)); k += 1 }
            c.pos += 1
            k
          }
          val status = try {
            var v: String = null
            while (v == null) c.u8(c.pos) match {
              case 0x3b => v = "ok"
              case 0x21 => // introducer + label, then the chain
                c.pos += 2
                subs += chain(); exts += 1
              case 0x2c => // descriptor, local table, LZW minimum code size
                val fp = c.u8(c.pos + 9)
                c.pos += 10 + table(fp) + 1
                subs += chain(); frames += 1
              case _ => v = "malformed"
            }
            v
          } catch { case ByteCursor.Truncated => "truncated" }
          if (status == "truncated")
            (id, status, Some(w), Some(h), None, None, None, n)
          else (id, status, Some(w), Some(h), Some(frames), Some(exts), Some(subs), n)
        }
      }
      .toDF("doc_id", "status", "width", "height", "frames", "extensions",
        "subblocks", "n_bytes")
  }

  /** Synthetic WebP payloads for [[webpChunks]] — six families keyed by
    * doc_id % 6 (j = 10+id%13 lossy/lossless tail bytes, e = 5+id%7
    * EXIF bytes, w = 160+id%100, h = 120+id%80): 0 lossy VP8 with the
    * 9d 01 2a sync; 1 lossless VP8L with the 14+14-bit packed dims;
    * 2 extended VP8X canvas + a second EXIF chunk; 3 not WebP;
    * 4 truncated mid-chunk-data; 5 RIFF size field off by 3.
    */
  def syntheticWebpPayload(id: Long): Array[Byte] = {
    import ByteCursor.le
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def tag(s: String): Unit = bb ++= s.getBytes("US-ASCII")
    def fill(k: Int): Unit = (0 until k).foreach(i => bb += ((i * 11 + 3) & 0x7f).toByte)
    val w = (160 + id % 100).toInt; val h = (120 + id % 80).toInt
    val j = (10 + id % 13).toInt; val e = (5 + id % 7).toInt
    def chunk(cc: String, data: => Unit): Unit = {
      val mark = bb.length
      tag(cc); bb ++= le(0, 4) // len patched below
      val start = bb.length
      data
      val len = bb.length - start
      bb.patchInPlace(mark + 4, le(len, 4), 4)
      if (len % 2 == 1) bb += 0 // RIFF odd pad
    }
    def riff(body: => Unit): Unit = {
      tag("RIFF"); bb ++= le(0, 4); tag("WEBP")
      body
      bb.patchInPlace(4, le(bb.length - 8, 4), 4)
    }
    def vp8(): Unit = chunk("VP8 ", {
      fill(3); bb += 0x9d.toByte; bb += 0x01; bb += 0x2a
      bb ++= le(w, 2) ++ le(h, 2); fill(j)
    })
    (id % 6) match {
      case 0 => riff(vp8())
      case 1 => riff(chunk("VP8L", {
        bb += 0x2f
        bb ++= le((w - 1).toLong | ((h - 1).toLong << 14), 4); fill(j)
      }))
      case 2 => riff({
        chunk("VP8X", bb ++= le(0, 4) ++ le(w - 1, 3) ++ le(h - 1, 3))
        chunk("EXIF", fill(e))
      })
      case 3 => bb ++= s"plain text payload $id".getBytes("US-ASCII")
      case 4 =>
        tag("RIFF"); bb ++= le(16, 4); tag("WEBP"); tag("VP8 "); bb ++= le(20, 4); fill(4)
      case _ =>
        riff(vp8())
        // off by 3: the concat/truncate tell
        bb.patchInPlace(4, le(bb.length - 8 + 3, 4), 4)
    }
    bb.toArray
  }

  /** WebP chunk walk — the THREE-CODEC member of the walker series: one
    * RIFF container (m8's chunk grammar: fourcc + u32le length + odd
    * pad) whose first chunk's fourcc selects among three different
    * dimension encodings — `VP8 ` lossy (dims as u16le behind the
    * 9d 01 2a sync code), `VP8L` lossless (width-1 and height-1 packed
    * as adjacent 14-bit fields of one u32le — a sub-byte split like
    * m25's STREAMINFO but little-endian), `VP8X` extended (u24le
    * minus-one canvas dims) — so one format exercises three of the
    * series' length/field mechanisms at once. The RIFF size field must
    * equal file size - 8 (checked FIRST; a mismatch is the
    * concatenated/truncated-then-appended tell, m23's lesson), the
    * first chunk must be a VP8* bitstream, and sync/signature bytes
    * are verified. Verdicts: not_webp / truncated / malformed / ok
    * with format, dims, chunk count; only ok rows carry fields (WebP
    * is one image — partial tallies carry no signal, unlike m24's
    * multi-frame GIFs; documented simplification).
    *
    * Scale shape: per-row typed map in the scan stage, zero exchange.
    */
  def webpChunks(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, raw) =>
        val c = new ByteCursor(raw)
        val n = c.length
        val noneI = None: Option[Int]
        if (!c.has(0, "RIFF") || !c.has(8, "WEBP"))
          (id, "not_webp", None: Option[String], noneI, noneI, noneI, n)
        else if (c.le(4, 4) != n - 8)
          (id, "malformed", None, noneI, noneI, noneI, n)
        else {
          var format: Option[String] = None
          var wd = noneI; var ht = noneI
          var chunks = 0
          val status = try {
            var pos = 12
            var v: String = null
            while (v == null && pos < n) {
              val cc = c.ascii(pos, 4)
              val len = c.le(pos + 4, 4)
              val d = pos + 8
              c.need(d, len + len % 2)
              if (chunks == 0) cc match {
                case "VP8 " =>
                  if (len < 10 || !c.has(d + 3, "\u009d\u0001\u002a")) v = "malformed"
                  else {
                    format = Some("lossy")
                    wd = Some((c.le(d + 6, 2) & 0x3fff).toInt)
                    ht = Some((c.le(d + 8, 2) & 0x3fff).toInt)
                  }
                case "VP8L" =>
                  if (len < 5 || c.u8(d) != 0x2f) v = "malformed"
                  else {
                    format = Some("lossless")
                    val bits = c.le(d + 1, 4)
                    wd = Some((bits & 0x3fff).toInt + 1)
                    ht = Some(((bits >> 14) & 0x3fff).toInt + 1)
                  }
                case "VP8X" =>
                  if (len < 10) v = "malformed"
                  else {
                    format = Some("extended")
                    wd = Some(c.le(d + 4, 3).toInt + 1)
                    ht = Some(c.le(d + 7, 3).toInt + 1)
                  }
                case _ => v = "malformed"
              }
              if (v == null) { chunks += 1; pos = d + (len + len % 2).toInt }
            }
            v
          } catch { case ByteCursor.Truncated => "truncated" }
          if (status == null) (id, "ok", format, wd, ht, Some(chunks), n)
          else (id, status, None, noneI, noneI, noneI, n)
        }
      }
      .toDF("doc_id", "status", "format", "width", "height", "n_chunks", "n_bytes")
  }

  /** Synthetic FLAC payloads for [[flacBlocks]] — five families keyed
    * by doc_id % 5 (v = 10+id%20 vorbis bytes, p = 5+id%9 padding,
    * a = 20+id%30 audio bytes): 0 valid fLaC with STREAMINFO + vorbis
    * comment + last-flagged padding + audio; 1 not FLAC; 2 truncated
    * inside the vorbis data (STREAMINFO already parsed); 3 first block
    * is padding, not STREAMINFO; 4 STREAMINFO length 20 instead of 34.
    */
  def syntheticFlacPayload(id: Long): Array[Byte] = {
    import ByteCursor.be
    val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def block(last: Boolean, tpe: Int, len: Int): Unit = {
      bb += ((if (last) 0x80 else 0) | tpe).toByte; bb ++= be(len, 3)
    }
    val rate = 8000 + (id % 8).toInt * 4000
    val ch = 1 + (id % 4).toInt; val bps = 16 + (id % 2).toInt * 8
    val total = 44100L + id % 1000
    def streaminfo(): Unit = {
      block(last = false, 0, 34)
      bb ++= be(0x10001000 >> 8, 3); bb += 0x10 // min/max block size 4096 each
      bb ++= be(0, 3); bb ++= be(0x040000, 3) // min/max frame size
      val packed = (rate.toLong << 44) | ((ch - 1).toLong << 41) |
        ((bps - 1).toLong << 36) | total
      bb ++= be(packed, 8)
      (0 until 16).foreach(i => bb += ((id + i) & 0x7f).toByte) // md5
    }
    val v = (10 + id % 20).toInt; val p = (5 + id % 9).toInt; val a = (20 + id % 30).toInt
    def fill(k: Int, c: Int): Unit =
      (0 until k).foreach(i => bb += ((c + i * 3) & 0x7f).toByte)
    (id % 5) match {
      case 0 =>
        bb ++= "fLaC".getBytes("US-ASCII"); streaminfo()
        block(last = false, 4, v); fill(v, 'v')
        block(last = true, 1, p); fill(p, 0)
        fill(a, 'a')
      case 1 => bb ++= s"plain text payload $id".getBytes("US-ASCII")
      case 2 =>
        bb ++= "fLaC".getBytes("US-ASCII"); streaminfo()
        block(last = false, 4, v); fill(3, 'v') // cut 3 bytes into the data
      case 3 =>
        bb ++= "fLaC".getBytes("US-ASCII")
        block(last = true, 1, p); fill(p, 0)
      case _ =>
        bb ++= "fLaC".getBytes("US-ASCII")
        block(last = true, 0, 20); fill(20, 's')
    }
    bb.toArray
  }

  /** FLAC metadata-block walk — the BIG-ENDIAN + SUB-BYTE member of
    * the walker series: block headers carry a u24 big-endian length
    * (every prior member was little-endian or in-band), the walk ends
    * on an IN-HEADER last-flag BIT (not a sentinel byte like GIF's
    * 0x00 or a trailer like m24's 0x3B — the sixth distinct
    * length/termination mechanism), and STREAMINFO packs sample_rate
    * (20 bits), channels-1 (3), bits_per_sample-1 (5) and
    * total_samples (36) into one 64-bit big-endian word spanning byte
    * boundaries — the first bit-granular unpack in the series. Spec
    * invariants enforced as verdicts: `not_flac` (magic),
    * `missing_streaminfo` (first block must be type 0 — the spec's
    * hard MUST), `malformed` (STREAMINFO length != 34 — the fixed-size
    * block), `truncated` (EOF mid-structure; STREAMINFO fields survive
    * if already parsed — the m24 partial-parse policy), else `ok` with
    * block count and trailing audio byte count (frames are hopped
    * over as one span, never decoded).
    *
    * Scale shape: per-row typed map in the scan stage, zero exchange.
    */
  def flacBlocks(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, raw) =>
        val c = new ByteCursor(raw)
        val n = c.length
        val none = None: Option[Long]
        val noneI = None: Option[Int]
        if (!c.has(0, "fLaC"))
          (id, "not_flac", noneI, noneI, noneI, noneI, none, none, n)
        else {
          var pos = 4
          var blocks = 0
          var rate = noneI; var ch = noneI; var bps = noneI; var tot = none
          val status = try {
            var v: String = null
            var last = false
            while (v == null && !last) {
              val len = c.be(pos + 1, 3).toInt
              val hdr = c.u8(pos)
              last = (hdr & 0x80) != 0
              pos += 4
              if (blocks == 0 && (hdr & 0x7f) != 0) v = "missing_streaminfo"
              else if (blocks == 0 && len != 34) v = "malformed"
              else {
                c.need(pos, len)
                if (blocks == 0) {
                  val packed = c.be(pos + 10, 8)
                  rate = Some((packed >>> 44).toInt)
                  ch = Some(((packed >>> 41) & 0x7).toInt + 1)
                  bps = Some(((packed >>> 36) & 0x1f).toInt + 1)
                  tot = Some(packed & 0xFFFFFFFFFL)
                }
                pos += len; blocks += 1
              }
            }
            v
          } catch { case ByteCursor.Truncated => "truncated" }
          if (status == null)
            (id, "ok", Some(blocks), rate, ch, bps, tot, Some((n - pos).toLong), n)
          else (id, status, noneI, rate, ch, bps, tot, none, n)
        }
      }
      .toDF("doc_id", "status", "n_blocks", "sample_rate", "channels",
        "bits_per_sample", "total_samples", "audio_bytes", "n_bytes")
  }

  def imageDims(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, raw) =>
        val c = new ByteCursor(raw)
        var fmt = "unknown"; var wd: Option[Int] = None
        var ht: Option[Int] = None; var st = "unknown"
        if (c.has(0, PngSignature)) {
          fmt = "png"
          if (c.fits(16, 8) && c.has(12, "IHDR")) {
            wd = Some(c.be(16, 4).toInt); ht = Some(c.be(20, 4).toInt); st = "ok"
          } else st = "truncated"
        } else if (c.has(0, "GIF89a") || c.has(0, "GIF87a")) {
          fmt = "gif"
          if (c.fits(6, 4)) {
            wd = Some(c.le(6, 2).toInt); ht = Some(c.le(8, 2).toInt); st = "ok"
          } else st = "truncated"
        } else if (c.has(0, "\u00ff\u00d8")) {
          fmt = "jpeg"
          st = try {
            var i = 2
            var v: String = null
            while (v == null) {
              if (c.u8(i) != 0xff) v = "malformed"
              else {
                var j = i
                while (c.u8(j) == 0xff) j += 1 // fill bytes
                val m = c.u8(j)
                if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i = j + 1
                else if (m == 0xd9 || m == 0xda) v = "malformed" // EOI/SOS, no SOF seen
                else {
                  val len = c.be(j + 1, 2).toInt
                  if (len < 2) v = "malformed"
                  else if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
                    val h = c.be(j + 4, 2).toInt
                    wd = Some(c.be(j + 6, 2).toInt)
                    ht = Some(h)
                    v = "ok"
                  } else i = j + 1 + len // skip by declared length
                }
              }
            }
            v
          } catch { case ByteCursor.Truncated => "truncated" }
        }
        (id, fmt, wd, ht, st)
      }
      .toDF("doc_id", "format", "width", "height", "status")
  }

  /** Content-defined chunking (CDC) — the storage-dedup primitive the
    * fixed-window family ([[paragraphDedup]]'s /8 word windows,
    * [[substringDup]]'s stride-1 grams) structurally lacks:
    * INSERTION-SHIFT ROBUSTNESS. A fixed-grid chunker re-cuts the whole
    * document when one byte is inserted at the front (every window
    * shifts); CDC cuts where a rolling hash of the last `window`
    * characters hits a mask value, so a boundary decision depends ONLY
    * on local content — after an edit, chunk boundaries (and therefore
    * chunk hashes) realign within one window width, and every
    * downstream chunk dedups against the unedited copy. This is how
    * mirror pages with injected ad headers still share 95 % of their
    * chunks, which neither doc-level ([[dedupExact]]) nor grid-window
    * detection sees.
    *
    * The rolling hash is the polynomial sum(cp_j · 31^(i-j)) over the
    * last `window=4` code points, EXACT in a long (cp < 2^21,
    * 31^3 < 2^15 — no overflow, no engine-specific modular wraparound),
    * cut after position i when H mod 64 == 63 (mean chunk ~64 chars;
    * production adds min/max bounds — documented drop, the oracle rule
    * stays pure). The cut never lands on the final position (an empty
    * trailing chunk is not a chunk).
    *
    * Scale shape: the boundary scan is a typed mapPartitions kernel,
    * O(n) per document, MAP-ONLY — chunk TEXT never leaves the scan
    * stage; only (doc_id, 16-byte chunk md5, idx, len) rows continue.
    * Cross-doc sharing is one distinct + one map-side-combined count on
    * the hash, joined back on the hash — every shuffle carries hashes
    * and ids, never content. Output: one row per chunk with its
    * document frequency `df` (docs containing the chunk), the direct
    * input to a shared-boilerplate strip or a storage-dedup manifest.
    */
  def cdcChunks(spark: SparkSession, docs: DataFrame,
                window: Int = 4, maskMod: Long = 64L): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(maskMod >= 2, "maskMod must be >= 2")
    import spark.implicits._
    val chunks = docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def hex(b: Array[Byte]): String = {
          val sb = new StringBuilder(32)
          b.foreach(x => sb.append(f"${x & 0xff}%02x"))
          sb.toString
        }
        val pow = Array.iterate(1L, 16)(_ * 31L) // 31^k, exact
        it.flatMap { case (id, text) =>
          // BMP/ASCII contract (the corpus generator emits ASCII): one
          // Java char == one code point == one DuckDB character, so the
          // kernel and the SQL oracle index the same grid.
          val n = text.length
          var h = 0L
          val cuts = scala.collection.mutable.ArrayBuffer.empty[Int]
          var i = 0
          while (i < n) {
            val cp = text.charAt(i).toLong
            h = if (i < window) h * 31L + cp
            else (h - text.charAt(i - window).toLong * pow(window - 1)) * 31L + cp
            // 1-based position i+1; never cut after the last char
            if (i + 1 >= window && i + 1 < n && h % maskMod == maskMod - 1)
              cuts += (i + 1)
            i += 1
          }
          val bounds = (0 +: cuts :+ n).toArray
          (0 until bounds.length - 1).iterator.map { k =>
            val s = text.substring(bounds(k), bounds(k + 1))
            (id, k, s.length, hex(md.digest(s.getBytes("UTF-8"))))
          }
        }
      }
      .toDF("doc_id", "chunk_idx", "chunk_len", "h")
    val dfTab = chunks.select(col("doc_id"), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
    chunks.join(dfTab, "h")
      .select(col("doc_id"), col("chunk_idx").cast("int"),
        col("chunk_len").cast("int"), col("h").as("chunk_md5"), col("df"))
  }

  /** Fixed-SIZE per-group sampling — carve exactly k documents per
    * group (eval sets, human-review batches, per-language probes),
    * deterministically: rank docs by the hash h60("gs:" || doc_id) and
    * keep a doc iff its hash is at or below the group's k-th smallest.
    * [[stratifiedSample]] is the RATE-based sibling (keep p% — output
    * size scales with the corpus); this pins the output SIZE, which is
    * what an eval budget needs. Hash order makes the selection a pure
    * function of doc_id — stable under reshards, re-runs, and corpus
    * growth ONLY shrinks thresholds (new smaller hashes push old
    * members out, never reorder survivors arbitrarily).
    *
    * Scale shape: the naive form is row_number() OVER (PARTITION BY
    * group ORDER BY h) <= k — a full sort of every group, and a hot
    * group lands in ONE task (the t31 lesson). Instead: one map-side-
    * combined [[graft.functions.MinKLongs min_k_longs]] pass yields the
    * k-th-smallest threshold per group (O(k) state, no sort), the tiny
    * per-group threshold table broadcasts back, and the keep decision
    * is a map-only hash compare. Keeping by `h <= threshold` (not array
    * membership) makes boundary hash-collisions keep ALL tied docs in
    * both engines — deterministic, and |sample| may exceed k only on a
    * 60-bit tie.
    */
  def groupSample(docs: DataFrame, groupCol: String = "lang",
                  k: Int = 16): DataFrame = {
    require(k >= 1, "k must be >= 1")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val withH = docs.select(col("doc_id"), col(groupCol),
      h60(concat(lit("gs:"), col("doc_id"))).as("h"))
    val thr = withH.groupBy(groupCol)
      .agg(expr(s"min_k_longs(h, $k)").as("ks"))
      .select(col(groupCol), element_at(col("ks"), -1).as("h_max"))
    withH.join(broadcast(thr), groupCol)
      .filter(col("h") <= col("h_max"))
      .select(col("doc_id"), col(groupCol), col("h"))
  }

  /** Crawl-over-crawl novelty — the gram-level diff between two corpus
    * snapshots that tells a curation team whether re-crawling is still
    * buying new training text: per language, how many distinct 3-word
    * shingles the new snapshot KEPT, ADDED, and REMOVED relative to the
    * old one, with novelty (added/new) and decay (removed/old) rates in
    * integer ppm. Doc-level diffs ([[incrementalDedup]], the e30
    * recrawl delta) miss that a "new" page is often 95 % old text; the
    * gram-level diff measures the actual marginal content, which is
    * what a token budget pays for.
    *
    * Scale shape: each snapshot streams through the shared shingle+h60
    * front ONCE; the union aggregates per (lang, 60-bit hash) with
    * map-side-combined max() membership flags — one shuffle carrying
    * hashes, never text — then collapses to one row per language.
    * Gram multiplicity within a doc or snapshot is irrelevant (max()
    * dedups), so no distinct pre-pass is needed.
    */
  def crawlNovelty(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def grams(d: DataFrame, inOld: Int, inNew: Int): DataFrame =
      d.select(col("lang"), words(col("text")).as("w"))
        .filter(size(col("w")) >= 3)
        .select(col("lang"), explode(shingles3(col("w"))).as("g"))
        .select(col("lang"), h60(col("g")).as("h"),
          lit(inOld).as("o"), lit(inNew).as("nw"))
    grams(oldDocs, 1, 0).unionByName(grams(newDocs, 0, 1))
      .groupBy("lang", "h")
      .agg(max("o").as("o"), max("nw").as("nw"))
      .groupBy("lang")
      .agg(sum("o").as("grams_old"), sum("nw").as("grams_new"),
        sum(when(col("o") === 1 && col("nw") === 1, 1L).otherwise(0L)).as("kept"),
        sum(when(col("o") === 0 && col("nw") === 1, 1L).otherwise(0L)).as("added"),
        sum(when(col("o") === 1 && col("nw") === 0, 1L).otherwise(0L)).as("removed"))
      .select(col("lang"), col("grams_old"), col("grams_new"),
        col("kept"), col("added"), col("removed"),
        expr("case when grams_new > 0 then added * 1000000 div grams_new end")
          .as("novelty_ppm"),
        expr("case when grams_old > 0 then removed * 1000000 div grams_old end")
          .as("decay_ppm"))
  }

  /** Pairwise source-overlap matrix from k-minimum-values sketches —
    * "how redundant are my sources?" answered WITHOUT the pairwise gram
    * join that question naively requires. Comparing every source pair
    * by their shingle sets is a |grams|×|grams| join per pair; the KMV
    * estimator needs ONE corpus pass: per source, keep the k smallest
    * distinct shingle hashes (the [[graft.functions.MinKLongs
    * min_k_longs]] bounded-heap aggregate — O(k) state, partial
    * aggregation before the shuffle), then estimate any pair's Jaccard
    * from sketches alone: with M = the k smallest of S_a ∪ S_b,
    * J ≈ |{x ∈ M : x ∈ S_a ∩ S_b}| / |M| — every quantity computed on
    * k-element arrays driver-scale, EXACT (equal to true Jaccard) when
    * the union fits the sketch, which is the pinned property. Uses the
    * d2 family's 3-word shingle + h60 conventions, so the sketch is the
    * same object the minhash pipeline banded.
    *
    * Scale shape: distinct (source, h) → one map-side-combined
    * min_k_longs per source; the pairwise stage joins an
    * n_sources-row sketch table against itself (broadcast-degenerate) —
    * corpus bytes are touched once, pairs cost O(sources²·k) array ops,
    * never another corpus scan. Integer-ppm output (the repo's
    * transcendental-free rule).
    */
  def sourceOverlap(docs: DataFrame, k: Int = 256): DataFrame = {
    require(k >= 1, "k must be >= 1")
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val g = docs.select(col("source"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("source"), explode(shingles3(col("w"))).as("g"))
      .select(col("source"), h60(col("g")).as("h"))
      .distinct()
    val sk = g.groupBy("source").agg(expr(s"min_k_longs(h, $k)").as("sk"))
    val a = sk.select(col("source").as("src_a"), col("sk").as("ska"))
    val b = sk.select(col("source").as("src_b"), col("sk").as("skb"))
    a.crossJoin(b).filter(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        slice(array_sort(array_union(col("ska"), col("skb"))), 1, k).as("m"),
        array_intersect(col("ska"), col("skb")).as("both"))
      .select(col("src_a"), col("src_b"),
        size(col("m")).cast("int").as("sketch_n"),
        size(array_intersect(col("m"), col("both"))).cast("int").as("n_shared"))
      .select(col("src_a"), col("src_b"), col("sketch_n"), col("n_shared"),
        expr("cast(n_shared as bigint) * 1000000 div sketch_n")
          .as("est_jaccard_ppm"))
  }

  /** Deterministic synthetic chunked-transfer bodies for
    * [[chunkedDecode]] — kinds by id % 6, each pinning one decoder
    * semantic: plain multi-chunk (2 + id%3 chunks); an UPPERCASE hex
    * size with a `;name=val` chunk extension (both legal, both must be
    * handled — extensions are skipped by the ';' cut, never parsed);
    * trailer headers after the 0-chunk (two of them); a declared size
    * overrunning the payload (truncated); a non-hex size line
    * (malformed); data followed by garbage where its CRLF belongs
    * (malformed — the size said N, so N+CRLF is a protocol invariant).
    * Chunk contents derive from the id so the oracle rebuilds the
    * decoded body in SQL and checks its md5.
    */
  def syntheticChunkedPayload(id: Long): Array[Byte] = {
    def a(s: String) = s.getBytes("ISO-8859-1")
    def part(j: Int) = s"p$j:$id;"
    def chunk(s: String, ext: String = "", upper: Boolean = false): String = {
      val hx0 = s.length.toHexString
      val hx = if (upper) hx0.toUpperCase else hx0
      s"$hx$ext\r\n$s\r\n"
    }
    (id % 6) match {
      case 0 =>
        val k = 2 + (id % 3).toInt
        a((0 until k).map(j => chunk(part(j))).mkString + "0\r\n\r\n")
      case 1 => a(chunk(part(0), ext = ";x=1", upper = true) + "0\r\n\r\n")
      case 2 => a(chunk(part(0)) + chunk(part(1)) +
        "0\r\nX-T1: a\r\nX-T2: b\r\n\r\n")
      case 3 => // size says part0, payload stops halfway through it
        val s = part(0)
        a(s"${s.length.toHexString}\r\n" + s.substring(0, s.length / 2))
      case 4 => a("zz\r\nnot reached")
      case _ => // CRLF after the data replaced by junk
        val s = part(0)
        a(s"${s.length.toHexString}\r\n${s}XX0\r\n\r\n")
    }
  }

  /** HTTP/1.1 chunked transfer decoding — the body-encoding layer the
    * [[httpResponses]]/[[warcHttpRecords]]/[[ccReader]] stack reads
    * around: servers that don't know the body length up front emit
    * `Transfer-Encoding: chunked`, and a production Common-Crawl ingest
    * must decode it before any charset/extraction step. The grammar is
    * hostile in exactly the byte-walker ways: sizes are HEX lines
    * (case-insensitive) optionally followed by `;ext` chunk extensions
    * that must be cut, never parsed; the size is the only authority for
    * the data length (a CRLF scan inside data is wrong — data legally
    * contains CRLF); the terminating 0-chunk may be followed by TRAILER
    * header lines up to an empty line; and the CRLF after each data
    * block is a protocol invariant whose absence is `malformed`, not a
    * resync point. Error-as-data: `ok` / `truncated` (a size line,
    * data block, or the trailer section overruns the payload) /
    * `malformed` (non-hex size, or the post-data CRLF is not CRLF).
    * Decoded bytes feed a rolling md5 only — never materialized as a
    * row (the m9 rule). Typed mapPartitions, MAP-ONLY, zero shuffle.
    */
  def chunkedDecode(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def hex(b: Array[Byte]): String = {
          val sb = new StringBuilder(32)
          b.foreach(x => sb.append(f"${x & 0xff}%02x"))
          sb.toString
        }
        it.map { case (id, raw) =>
          val b = new ByteCursor(raw).bytes
          val n = b.length
          md.reset()
          var off = 0
          var nChunks = 0
          var bodyLen = 0L
          var trailers = 0
          var status: String = null
          def lineEnd(from: Int): Int = {
            var i = from
            while (i + 1 < n && !((b(i) & 0xff) == 0x0d && (b(i + 1) & 0xff) == 0x0a)) i += 1
            if (i + 1 < n) i else -1
          }
          while (status == null) {
            val le = lineEnd(off)
            if (le < 0) status = "truncated"
            else {
              // cut the extension at ';'; hex-parse what precedes it
              var semi = off
              while (semi < le && b(semi) != ';') semi += 1
              var sz = 0L
              var ok = semi > off
              var i = off
              while (ok && i < semi) {
                val c = b(i) & 0xff
                val d =
                  if (c >= '0' && c <= '9') c - '0'
                  else if (c >= 'a' && c <= 'f') c - 'a' + 10
                  else if (c >= 'A' && c <= 'F') c - 'A' + 10
                  else -1
                if (d < 0) ok = false else sz = sz * 16 + d
                i += 1
              }
              if (!ok) status = "malformed"
              else {
                off = le + 2
                if (sz == 0L) {
                  // trailer section: header lines until the empty line
                  var done = false
                  while (!done && status == null) {
                    val te = lineEnd(off)
                    if (te < 0) status = "truncated"
                    else if (te == off) { done = true; status = "ok" }
                    else { trailers += 1; off = te + 2 }
                  }
                } else if (off + sz + 2 > n) status = "truncated"
                else {
                  md.update(b, off, sz.toInt)
                  bodyLen += sz
                  nChunks += 1
                  if ((b(off + sz.toInt) & 0xff) != 0x0d ||
                    (b(off + sz.toInt + 1) & 0xff) != 0x0a) status = "malformed"
                  else off = off + sz.toInt + 2
                }
              }
            }
          }
          val okRow = status == "ok"
          (id,
            if (okRow) Some(nChunks) else None,
            if (okRow) Some(bodyLen) else None,
            if (okRow) Some(hex(md.digest())) else { md.digest(); None },
            if (okRow) Some(trailers) else None,
            status)
        }
      }
      .toDF("doc_id", "n_chunks", "body_len", "body_md5", "n_trailers", "status")
  }

  /** Deterministic synthetic ISO-BMFF (MP4) bytes for [[mp4Headers]] —
    * test scaffolding in the [[syntheticWavPayload]] role. Kinds by
    * id % 6, each pinning one load-bearing walker semantic:
    *   0: ftyp + moov(mvhd v0, 1+id%3 trak children) + mdat — the
    *      plain file, multi-track count;
    *   1: mvhd VERSION 1 — 64-bit duration (> 2^32, so a reader that
    *      takes the v0 field widths reads garbage), brand mp42;
    *   2: a LARGESIZE mdat (size==1, 64-bit size follows the type)
    *      BETWEEN ftyp and moov — moov-at-end, the order every
    *      non-faststart encoder emits; a walker without largesize
    *      support lands mid-mdat and dies;
    *   3: moov's declared size overruns the payload — truncated, but
    *      the brand (parsed before the fault) is still reported;
    *   4: not BMFF at all — unknown;
    *   5: mdat with size==0 (extends to EOF — legal for the LAST box
    *      only), moov before it.
    * timescale/duration/track count are pure functions of the id for
    * the arithmetic oracle.
    */
  def syntheticMp4Payload(id: Long): Array[Byte] = {
    import ByteCursor.be
    def a(s: String) = s.getBytes("US-ASCII")
    def box(tpe: String, body: Array[Byte]): Array[Byte] =
      be(8L + body.length, 4) ++ a(tpe) ++ body
    val kind = (id % 6).toInt
    val timescale = 600L * (1 + id % 4)
    val durV0 = 6000L + id % 5000
    val durV1 = 5000000000L + id % 1000 // needs the full 64 bits
    val brand = if (kind == 1) "mp42" else "isom"
    val ftyp = box("ftyp", a(brand) ++ be(0, 4) ++ a("isomavc1"))
    def mvhd(v: Int): Array[Byte] =
      if (v == 0)
        box("mvhd", Array[Byte](0, 0, 0, 0) ++ be(0, 4) ++ be(0, 4) ++
          be(timescale, 4) ++ be(durV0, 4))
      else
        box("mvhd", Array[Byte](1, 0, 0, 0) ++ be(0, 8) ++ be(0, 8) ++
          be(timescale, 4) ++ be(durV1, 8))
    def trak(i: Long): Array[Byte] =
      box("trak", box("free", a(s"t$i")))
    def moov(v: Int, nTrak: Int): Array[Byte] =
      box("moov", mvhd(v) ++ (0 until nTrak).toArray.flatMap(i => trak(i.toLong)))
    val mdatBody = Array.fill[Byte]((10 + id % 7).toInt)(0x4d)
    kind match {
      case 0 => ftyp ++ moov(0, (1 + id % 3).toInt) ++ box("mdat", mdatBody)
      case 1 => ftyp ++ moov(1, 1) ++ box("mdat", mdatBody)
      case 2 => // largesize mdat, then moov: size field = 1, real 64-bit
        // size (16-byte header + body) follows the type
        val large = be(1L, 4) ++ a("mdat") ++ be(16L + mdatBody.length, 8) ++ mdatBody
        ftyp ++ large ++ moov(0, 1)
      case 3 => // moov claims 9999 bytes the payload does not have
        ftyp ++ be(9999L, 4) ++ a("moov") ++ mvhd(0)
      case 4 => a(s"plain text payload $id")
      case _ => // size==0: mdat runs to EOF (last box)
        ftyp ++ moov(0, 1) ++ be(0L, 4) ++ a("mdat") ++ mdatBody
    }
  }

  /** ISO-BMFF (MP4) header walk over opaque video payloads — the video
    * leg of the multimodal metadata trio ([[imageDims]] images,
    * [[wavHeaders]] audio): major brand from `ftyp`, movie timescale +
    * duration from `moov/mvhd`, track count from `moov`'s `trak`
    * children. The box grammar is the same never-scan discipline as the
    * JPEG/RIFF/WARC walkers plus two traps of its own: a size field of
    * 1 means a 64-BIT largesize follows the type (mdat routinely
    * exceeds 4 GB at production scale — pinned by a largesize payload),
    * and a size of 0 means the box extends to EOF (legal for the last
    * box — pinned). `mvhd` switches field widths on its version byte:
    * v0 packs creation/modification/duration in 32 bits, v1 in 64 —
    * pinned by a v1 duration above 2^32. Container recursion is bounded
    * to `moov`'s region; `mdat` is skipped by its declared size, so a
    * gigabyte video costs ~100 header bytes (the walker never touches
    * sample data — this is why box sizes exist). duration_ms =
    * 1000·duration div timescale in integer arithmetic.
    *
    * Error-as-data (the e3 taxonomy): `ok` / `truncated` (a declared
    * size — top-level or child — overruns its region; the brand parsed
    * before the fault is kept) / `malformed` (walk completes but
    * moov/mvhd never appear, or a box claims fewer bytes than its own
    * header) / `unknown` (first box is not `ftyp`). Typed
    * mapPartitions, MAP-ONLY, zero shuffle.
    */
  def mp4Headers(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, raw) =>
        val c = new ByteCursor(raw)
        var brand: Option[String] = None
        var timescale: Option[Long] = None
        var duration: Option[Long] = None
        var nTracks = 0
        var sawMoov = false
        // the box at `at` inside a region ending at `end`: (type, header
        // length, size) — a size field of 1 means a 64-bit size follows
        // the type, 0 that the box runs to the region's end; null when
        // the size is smaller than the header, Truncated when the header
        // or the box overruns the region
        def box(at: Int, end: Int): (String, Int, Int) = {
          if (end - at < 8) throw ByteCursor.Truncated
          val s32 = c.be(at, 4)
          val hdr = if (s32 == 1L) 16 else 8
          if (end - at < hdr) throw ByteCursor.Truncated
          val size = if (s32 == 1L) c.be(at + 8, 8) else if (s32 == 0L) (end - at).toLong else s32
          if (size < hdr) null
          else if (size > end - at) throw ByteCursor.Truncated
          else (c.ascii(at + 4, 4), hdr, size.toInt)
        }
        val status =
          if (!c.has(4, "ftyp")) "unknown"
          else try {
            var v: String = null
            var off = 0
            while (v == null && off < c.length) {
              val bx = box(off, c.length)
              if (bx == null) v = "malformed"
              else {
                val (tpe, hdr, size) = bx
                val end = off + size
                if (tpe == "ftyp") {
                  if (hdr + 4 > size) throw ByteCursor.Truncated
                  brand = Some(c.ascii(off + hdr, 4))
                } else if (tpe == "moov") {
                  sawMoov = true
                  var ch = off + hdr
                  while (v == null && ch < end) {
                    val cb = box(ch, end)
                    if (cb == null) v = "malformed"
                    else {
                      val (ct, chdr, cs) = cb
                      val body = ch + chdr
                      if (ct == "mvhd") {
                        val ver = if (body < end) c.u8(body) else -1
                        if (ver == 0 && body + 20 <= end) {
                          timescale = Some(c.be(body + 12, 4))
                          duration = Some(c.be(body + 16, 4))
                        } else if (ver == 1 && body + 32 <= end) {
                          timescale = Some(c.be(body + 20, 4))
                          duration = Some(c.be(body + 24, 8))
                        } else throw ByteCursor.Truncated
                      } else if (ct == "trak") nTracks += 1
                      ch += cs
                    }
                  }
                }
                off = end
              }
            }
            if (v != null) v
            else if (sawMoov && timescale.exists(_ > 0L) && duration.isDefined) "ok"
            else "malformed"
          } catch { case ByteCursor.Truncated => "truncated" }
        val ok = status == "ok"
        val durMs =
          if (ok) Some(1000L * duration.get / timescale.get) else None
        (id, brand.orNull,
          if (ok) timescale.map(_.toInt) else None,
          durMs,
          if (ok) Some(nTracks) else None,
          status)
      }
      .toDF("doc_id", "brand", "timescale", "duration_ms", "n_tracks", "status")
  }

  /** Deterministic ZIP payloads for [[zipEntries]] — six families keyed
    * by doc_id, each pinning one archive-grammar trap (see zipEntries).
    */
  def syntheticZipPayload(id: Long): Array[Byte] = {
    import ByteCursor.le
    def a(s: String) = s.getBytes("US-ASCII")
    def cdEntry(name: String, method: Int, flags: Int, comp: Long,
                uncomp: Long, extra: Array[Byte] = Array.empty): Array[Byte] =
      le(0x02014b50L, 4) ++ le(20, 2) ++ le(20, 2) ++ le(flags, 2) ++ le(method, 2) ++
        le(0, 2) ++ le(0, 2) ++ le(0, 4) ++ le(comp, 4) ++ le(uncomp, 4) ++
        le(name.length, 2) ++ le(extra.length, 2) ++ le(0, 2) ++ le(0, 2) ++
        le(0, 2) ++ le(0, 4) ++ le(0, 4) ++ a(name) ++ extra
    def eocd(n: Long, cdSize: Long, cdOff: Long,
             comment: Array[Byte] = Array.empty): Array[Byte] =
      le(0x06054b50L, 4) ++ le(0, 2) ++ le(0, 2) ++ le(n, 2) ++ le(n, 2) ++
        le(cdSize, 4) ++ le(cdOff, 4) ++ le(comment.length, 2) ++ comment
    def localHdr(name: String, method: Int, flags: Int, comp: Long,
                 uncomp: Long): Array[Byte] =
      le(0x04034b50L, 4) ++ le(20, 2) ++ le(flags, 2) ++ le(method, 2) ++ le(0, 2) ++
        le(0, 2) ++ le(0, 4) ++ le(comp, 4) ++ le(uncomp, 4) ++ le(name.length, 2) ++
        le(0, 2) ++ a(name)
    (id % 6).toInt match {
      case 0 =>
        val n0 = 7 + id % 3
        val filler = a("D" * (4 + id % 5).toInt)
        val cd = cdEntry(s"a${id % 9}.txt", 0, 0, n0, n0) ++
          cdEntry(s"b${id % 9}.bin", 8, 0, 5 + id % 4, 20 + id % 6)
        filler ++ cd ++ eocd(2, cd.length, filler.length)
      case 1 =>
        // EOCD comment opens with a DECOY EOCD signature: the backward
        // scan hits it first (it sits exactly 22 bytes from EOF) and
        // must reject it because its comment-length field (0xABAB)
        // does not cover the bytes remaining
        val filler = a("x" * (3 + id % 4).toInt)
        val cd = cdEntry(s"c${id % 9}.txt", 0, 0, 7 + id % 3, 7 + id % 3)
        val decoy = le(0x06054b50L, 4) ++ Array.fill[Byte](18)(0xab.toByte)
        filler ++ cd ++ eocd(1, cd.length, filler.length, decoy)
      case 2 =>
        // ZIP64: EOCD carries 0xFFFF/0xFFFFFFFF sentinels, the real
        // count/offset live in the ZIP64 EOCD record found via the
        // locator; entry 0's uncompressed size is itself a sentinel
        // resolved from the 0x0001 extra field (> 4 GiB)
        val bigUncomp = 5000000000L + id % 9
        val x64 = le(0x0001, 2) ++ le(8, 2) ++ le(bigUncomp, 8)
        val filler = a("z" * (2 + id % 3).toInt)
        val cd = cdEntry(s"big${id % 9}.bin", 8, 0, 1000 + id % 7,
          0xffffffffL, x64) ++ cdEntry("s.txt", 0, 0, 3, 3)
        val z64 = le(0x06064b50L, 4) ++ le(44, 8) ++ le(45, 2) ++ le(45, 2) ++
          le(0, 4) ++ le(0, 4) ++ le(2, 8) ++ le(2, 8) ++ le(cd.length, 8) ++
          le(filler.length, 8)
        val loc = le(0x07064b50L, 4) ++ le(0, 4) ++ le(filler.length + cd.length, 8) ++ le(1, 4)
        filler ++ cd ++ z64 ++ loc ++ eocd(0xffffL, cd.length, 0xffffffffL)
      case 3 =>
        // data-descriptor archive: local headers carry ZERO sizes (flag
        // bit 3), the central directory carries the truth — a walker
        // that reads local headers reports 0 here
        val c0 = 9 + id % 5; val u0 = 30 + id % 7
        val lh = localHdr(s"d0_${id % 9}.txt", 8, 0x0008, 0, 0) ++
          a("DD") ++ localHdr("d1.txt", 0, 0, 4, 4) ++ a("4444")
        val cd = cdEntry(s"d0_${id % 9}.txt", 8, 0x0008, c0, u0) ++
          cdEntry("d1.txt", 0, 0, 4, 4)
        lh ++ cd ++ eocd(2, cd.length, lh.length)
      case 4 => a(s"not a zip $id")
      case _ =>
        // EOCD promises 3 entries; the directory holds ONE, then the
        // payload ends — the walk keeps what it parsed (truncated)
        val filler = a("q" * (2 + id % 3).toInt)
        val n = 2 + id % 3
        val cd = cdEntry(s"t${id % 9}.txt", 0, 0, n, n)
        filler ++ cd ++ eocd(3, cd.length + 92, filler.length)
    }
  }

  /** ZIP central-directory walk over opaque archive payloads — the
    * container format behind docx/epub/jar payloads a crawl encounters,
    * completing the never-scan walker series (gzip members m9, WARC m3,
    * MP4 m11, RIFF m8). A ZIP is read from the END: the End-Of-Central-
    * Directory record is found by scanning BACKWARD for its signature,
    * validating that the candidate's comment-length field exactly covers
    * the bytes remaining — a signature inside the trailing comment fails
    * that check and the scan continues (pinned by a decoy placed where
    * the scan looks first). The walk then reads the central directory
    * ONLY: local file headers are never touched, because with streaming
    * (data-descriptor) archives they legally carry ZERO sizes (flag bit
    * 3) and only the CD holds the truth — pinned by a family whose local
    * headers lie. ZIP64 is the largesize analog of m11: a 0xFFFF entry
    * count or 0xFFFFFFFF offset in the EOCD is a SENTINEL redirecting
    * through the ZIP64 locator to the ZIP64 EOCD record, and a sentinel
    * size in a CD entry resolves from its 0x0001 extra field — pinned by
    * an entry whose true uncompressed size exceeds 4 GiB, whose low word
    * is nonzero. Per entry: name, method (0 stored / 8 deflate),
    * compressed/uncompressed sizes. Error-as-data: `ok` / `no_eocd`
    * (not a zip) / `malformed` (ZIP64 indirection broken) / `truncated`
    * (CD ends before the promised entry count — entries parsed so far
    * are kept, one row each). Rule-less outcomes yield one marker row
    * (idx NULL) so every doc surfaces. Only directory bytes are ever
    * read — a multi-gigabyte archive costs ~46 bytes per entry, the
    * scan-side metadata discipline shared with m4/m6/m8/m11. Typed
    * mapPartitions, MAP-ONLY, zero shuffle.
    */
  def zipEntries(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, raw) =>
        val c = new ByteCursor(raw)
        val len = c.length
        var eocd = -1
        var p = len - 22
        val lo = math.max(0, len - 22 - 65535)
        while (eocd < 0 && p >= lo) {
          if (c.le(p, 4) == 0x06054b50L && c.le(p + 20, 2) == (len - (p + 22)).toLong)
            eocd = p
          else p -= 1
        }
        val entries = scala.collection.mutable.ArrayBuffer
          .empty[(Int, String, Int, Long, Long)]
        val status =
          if (eocd < 0) "no_eocd"
          else try {
            var v: String = null
            var nTotal = c.le(eocd + 10, 2)
            var cdOff = c.le(eocd + 16, 4)
            if (nTotal == 0xffffL || cdOff == 0xffffffffL) {
              // ZIP64 sentinel: locator sits directly before the EOCD
              val lp = eocd - 20
              if (lp < 0 || c.le(lp, 4) != 0x07064b50L) v = "malformed"
              else {
                val zoff = c.le(lp + 8, 8)
                if (!c.fits(zoff, 56) || c.le(zoff, 4) != 0x06064b50L) v = "malformed"
                else {
                  nTotal = c.le(zoff + 32, 8)
                  cdOff = c.le(zoff + 48, 8)
                }
              }
            }
            var cd = cdOff
            while (v == null && entries.length < nTotal) {
              val ci = c.need(cd, 46)
              if (c.le(ci, 4) != 0x02014b50L) throw ByteCursor.Truncated
              val method = c.le(ci + 10, 2).toInt
              var comp = c.le(ci + 20, 4)
              var uncomp = c.le(ci + 24, 4)
              val nameLen = c.le(ci + 28, 2).toInt
              val extraLen = c.le(ci + 30, 2).toInt
              val cmtLen = c.le(ci + 32, 2).toInt
              c.need(ci + 46, nameLen + extraLen + cmtLen)
              val name = c.ascii(ci + 46, nameLen)
              // sentinel sizes resolve from the ZIP64 extra field
              // (id 0x0001): values appear in order, only for the
              // fields that are sentinels in the fixed record
              if (comp == 0xffffffffL || uncomp == 0xffffffffL) {
                var x = ci + 46 + nameLen
                val xEnd = x + extraLen
                var found = false
                while (!found && x + 4 <= xEnd) {
                  val hid = c.le(x, 2)
                  val hsz = c.le(x + 2, 2).toInt
                  if (hid == 0x0001L && x + 4 + hsz <= xEnd) {
                    var q = x + 4
                    if (uncomp == 0xffffffffL && q + 8 <= x + 4 + hsz) {
                      uncomp = c.le(q, 8); q += 8
                    }
                    if (comp == 0xffffffffL && q + 8 <= x + 4 + hsz)
                      comp = c.le(q, 8)
                    found = true
                  } else x += 4 + hsz
                }
                if (!found) v = "malformed"
              }
              if (v == null) {
                entries += ((entries.length, name, method, comp, uncomp))
                cd += 46 + nameLen + extraLen + cmtLen
              }
            }
            if (v == null) "ok" else v
          } catch { case ByteCursor.Truncated => "truncated" }
        entryRows((id, status), entries)
      }
    entryFrame(rows, "doc_id", "status", "idx", "name", "method", "comp_size", "uncomp_size")
  }

  /** Deterministic TAR archive payloads for [[tarEntries]], six families
    * by doc_id — each family pins one trap of the ustar/GNU format:
    * (0) plain POSIX ustar with two files and a directory entry plus the
    * two-zero-block terminator; (1) GNU longname — an 'L' pseudo-entry
    * whose DATA block carries the real >100-char name (NUL-terminated),
    * followed by the file header whose own name field is the truncated
    * prefix; (2) the ustar prefix/name path split plus a GNU base-256
    * binary size field (high bit of byte 0 set), with NO terminator
    * blocks — EOF exactly at a block boundary is a legal end; (3) a
    * valid first entry then a header whose checksum is off by one;
    * (4) not a tar at all; (5) a valid first entry then a header whose
    * size promises data past EOF. Checksum fields are written
    * space-padded ("%6o\0 ", the traditional historic format) so the
    * reader's leading-space octal handling is exercised on every header.
    */
  def syntheticTarPayload(id: Long): Array[Byte] = {
    def hdr(name: String, size: Long, typeflag: Char, prefix: String = "",
            magicGnu: Boolean = false, base256: Boolean = false,
            breakChksum: Boolean = false): Array[Byte] = {
      val b = new Array[Byte](512)
      def put(off: Int, s: String): Unit = {
        val bs = s.getBytes("US-ASCII")
        System.arraycopy(bs, 0, b, off, bs.length)
      }
      put(0, name.take(100))
      put(100, "0000644\u0000"); put(108, "0000000\u0000")
      put(116, "0000000\u0000")
      if (base256) {
        // GNU binary size: flag bit on byte 0, big-endian in bytes 1-11
        b(124) = 0x80.toByte
        ByteCursor.put(b, 125, size, 11, bigEndian = true)
      } else put(124, f"$size%011o" + "\u0000")
      put(136, "00000000000\u0000")
      put(156, typeflag.toString)
      if (magicGnu) put(257, "ustar  ") // magic "ustar ", version " \0"
      else { put(257, "ustar\u0000"); put(263, "00") }
      put(265, "web"); put(297, "crawl")
      put(345, prefix.take(155))
      java.util.Arrays.fill(b, 148, 156, ' '.toByte)
      var s = 0L; var i = 0
      while (i < 512) { s += b(i) & 0xffL; i += 1 }
      if (breakChksum) s += 1
      put(148, f"$s%6o" + "\u0000 ")
      b
    }
    def dataBlocks(bytes: Array[Byte]): Array[Byte] = {
      val n = ((bytes.length + 511) / 512) * 512
      java.util.Arrays.copyOf(bytes, n)
    }
    def fill(n: Long, ch: Char): Array[Byte] =
      dataBlocks(Array.fill[Byte](n.toInt)(ch.toByte))
    val end = new Array[Byte](1024)
    (id % 6).toInt match {
      case 0 =>
        val n0 = 7 + id % 5; val n1 = 20 + id % 7
        hdr(s"f${id % 9}.txt", n0, '0') ++ fill(n0, 'a') ++
          hdr(s"g${id % 9}.bin", n1, '0') ++ fill(n1, 'b') ++
          hdr(s"d${id % 9}/", 0, '5') ++ end
      case 1 =>
        val real = s"longdir${id % 9}/" + "x" * 100 + ".txt"
        val n = 5 + id % 4
        val lnData = (real + "\u0000").getBytes("US-ASCII")
        hdr("././@LongLink", lnData.length, 'L', magicGnu = true) ++
          dataBlocks(lnData) ++
          hdr(real, n, '0', magicGnu = true) ++ fill(n, 'c') ++ end
      case 2 =>
        val n0 = 11 + id % 5; val n1 = 300 + id % 50
        hdr("file.txt", n0, '0', prefix = s"p${id % 9}/sub") ++
          fill(n0, 'p') ++
          hdr("big.bin", n1, '0', base256 = true) ++ fill(n1, 'q')
      case 3 =>
        val n0 = 6 + id % 3
        hdr(s"h${id % 9}.txt", n0, '0') ++ fill(n0, 'h') ++
          hdr("broken.txt", 4, '0', breakChksum = true) ++ fill(4, 'z') ++ end
      case 4 => s"not a tar $id".getBytes("US-ASCII")
      case _ =>
        val n0 = 4 + id % 3
        hdr(s"t${id % 9}.txt", n0, '0') ++ fill(n0, 't') ++
          hdr("cut.bin", 100000, '0') ++ new Array[Byte](512)
    }
  }

  /** TAR (ustar/GNU) header walk over opaque archive payloads — the
    * sequential cousin of [[zipEntries]]'s end-anchored directory,
    * extending the never-scan walker series (gzip m9, WARC m3, MP4 m11,
    * RIFF m8, ZIP m13). A tar has NO index: the walk hops header to
    * header, skipping each entry's data by its declared size rounded UP
    * to 512-byte blocks — file bytes are never read, so a multi-GB
    * archive costs 512 bytes per entry. The traps are all in the header
    * grammar, each pinned by a generator family: SIZE is octal with
    * leading spaces/NULs — or GNU base-256 (high bit of byte 0 set,
    * big-endian binary) for values octal can't hold, tar's analog of
    * ZIP64's sentinel indirection; the CHECKSUM is the byte sum of the
    * header with its own checksum field read as eight SPACES (written
    * space-padded in the traditional "%6o\0 " form); a GNU 'L'
    * pseudo-entry's DATA block carries the next entry's real name
    * (NUL-terminated, >100 chars) and is consumed, not emitted; the
    * POSIX prefix field (byte 345) prepends `prefix + "/"` to the name —
    * but ONLY under POSIX magic ("ustar\0"), never GNU ("ustar  "),
    * distinguished by byte 262; the archive ends at two zero blocks OR
    * at clean EOF on a block boundary (GNU tolerates missing
    * terminators). Error-as-data: `ok` / `not_tar` / `bad_checksum`
    * (prefix of valid entries KEPT) / `malformed` (magic vanishes
    * mid-archive) / `truncated` (an entry's data runs past EOF — the
    * incomplete entry is dropped, the parsed prefix kept). Entry-less
    * outcomes yield one marker row (idx NULL) so every doc surfaces.
    * Typed mapPartitions riding the scan stage, MAP-ONLY, zero shuffle.
    */
  def tarEntries(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, raw) =>
        val c = new ByteCursor(raw)
        val b = c.bytes
        def octal(off: Int, len: Int): Long = {
          var i = off; val lim = off + len
          while (i < lim && b(i) == ' '.toByte) i += 1
          var v = 0L; var any = false
          while (i < lim && b(i) >= '0'.toByte && b(i) <= '7'.toByte) {
            v = (v << 3) + (b(i) - '0'.toByte); i += 1; any = true
          }
          if (any) v else -1L
        }
        // GNU base-256 when byte 0's high bit is set: the 12-byte field
        // is big-endian binary, and a Long keeps its last 8 bytes
        def sizeField(off: Int): Long =
          if ((b(off) & 0x80) != 0) c.be(off + 4, 8) else octal(off, 12)
        def checksumOk(off: Int): Boolean = {
          val stored = octal(off + 148, 8)
          var s = 0L; var i = 0
          while (i < 512) {
            s += (if (i >= 148 && i < 156) 32L else (b(off + i) & 0xffL))
            i += 1
          }
          stored >= 0 && s == stored
        }
        def zeroBlock(off: Int): Boolean = {
          var i = off
          while (i < off + 512 && b(i) == 0) i += 1
          i == off + 512
        }
        var p = 0
        var status: String = null
        var pendingLong: String = null
        val entries = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
        if (c.length < 512) status = "not_tar"
        while (status == null) {
          val j = entries.length
          if (!c.fits(p, 512)) {
            // clean EOF exactly on a block boundary after >=1 entry is
            // a legal (terminator-less) end; anything else mid-header
            // is truncation
            status =
              if (p == c.length && j > 0) "ok"
              else if (j > 0) "truncated" else "not_tar"
          } else if (zeroBlock(p)) {
            status = "ok" // terminator (empty archives are legal tars)
          } else if (!c.has(p + 257, "ustar")) {
            status = if (j == 0) "not_tar" else "malformed"
          } else if (!checksumOk(p)) {
            status = "bad_checksum"
          } else {
            val sz = sizeField(p + 124)
            if (sz < 0) status = "malformed"
            else {
              val blocks = ((sz + 511) / 512) * 512
              if (!c.fits(p + 512, blocks)) status = "truncated"
              else {
                val tf = c.u8(p + 156).toChar
                if (tf == 'L') {
                  // GNU longname: the data block holds the REAL name
                  // of the next entry, NUL-terminated; consume it
                  pendingLong = c.asciiz(p + 512, sz.toInt)
                } else {
                  val posix = b(p + 262) == 0 // "ustar\0" vs "ustar  "
                  val base = c.asciiz(p, 100)
                  val pre = if (posix) c.asciiz(p + 345, 155) else ""
                  val name =
                    if (pendingLong != null) pendingLong
                    else if (pre.nonEmpty) pre + "/" + base
                    else base
                  pendingLong = null
                  entries += ((j, name, tf.toString, sz))
                }
                p += 512 + blocks.toInt
              }
            }
          }
        }
        entryRows((id, status), entries)
      }
    entryFrame(rows, "doc_id", "status", "idx", "name", "typeflag", "size")
  }

  /** Deterministic TIFF payloads for [[tiffEntries]], six families by
    * doc_id — each pins one trap of the TIFF/EXIF IFD grammar:
    * (0) little-endian ("II") IFD0 with two inline SHORTs and an ASCII
    * tag whose 8 bytes exceed the 4-byte value field, forcing the
    * offset indirection; (1) big-endian ("MM") with an inline SHORT
    * (the classic misread: a reader that grabs the full u32 on MM gets
    * value<<16) and a RATIONAL whose 8 bytes live at an offset with
    * den=2, so both halves must be read; (2) an EXIF sub-IFD pointer
    * (tag 34665) AND a chained IFD1 via the next-IFD offset — pointer
    * entries are consumed, not emitted; (3) a next-IFD offset that
    * points BACK to IFD0 — a cycle that must be detected, keeping the
    * parsed entries; (4) not a TIFF; (5) an IFD that promises two
    * entries but the file ends after the first — the parsed prefix is
    * kept. Every multi-byte field is written in the family's byte
    * order.
    */
  def syntheticTiffPayload(id: Long): Array[Byte] = {
    import ByteCursor.put
    def mk(size: Int, be: Boolean): Array[Byte] = {
      val b = new Array[Byte](size)
      b(0) = (if (be) 'M' else 'I').toByte; b(1) = b(0)
      put(b, 2, 42, 2, be); put(b, 4, 8L, 4, be); b
    }
    // writes an entry header, returns the value-field offset
    def ent(b: Array[Byte], off: Int, tag: Int, typ: Int, cnt: Long,
            be: Boolean): Int = {
      put(b, off, tag, 2, be); put(b, off + 2, typ, 2, be)
      put(b, off + 4, cnt, 4, be); off + 8
    }
    (id % 6).toInt match {
      case 0 =>
        val b = mk(58, be = false)
        put(b, 8, 3, 2, false)
        put(b, ent(b, 10, 256, 3, 1, false), (640 + id % 100).toInt, 2, false)
        put(b, ent(b, 22, 257, 3, 1, false), (480 + id % 100).toInt, 2, false)
        put(b, ent(b, 34, 271, 2, 8, false), 50L, 4, false)
        put(b, 46, 0L, 4, false)
        val s = s"camera${id % 9}".getBytes("US-ASCII") // 7 chars + NUL pad
        System.arraycopy(s, 0, b, 50, s.length)
        b
      case 1 =>
        val b = mk(46, be = true)
        put(b, 8, 2, 2, true)
        put(b, ent(b, 10, 256, 3, 1, true), (800 + id % 100).toInt, 2, true)
        put(b, ent(b, 22, 282, 5, 1, true), 38L, 4, true)
        put(b, 34, 0L, 4, true)
        put(b, 38, 2L * (72 + id % 10), 4, true) // numerator
        put(b, 42, 2L, 4, true)                  // denominator
        b
      case 2 =>
        val b = mk(74, be = false)
        put(b, 8, 2, 2, false)
        put(b, ent(b, 10, 256, 3, 1, false), (1024 + id % 50).toInt, 2, false)
        put(b, ent(b, 22, 34665, 4, 1, false), 38L, 4, false) // EXIF pointer
        put(b, 34, 56L, 4, false) // next IFD = IFD1
        put(b, 38, 1, 2, false)   // EXIF sub-IFD
        put(b, ent(b, 40, 34855, 3, 1, false), (100 + (id % 8) * 25).toInt, 2, false)
        put(b, 52, 0L, 4, false)
        put(b, 56, 1, 2, false)   // IFD1 (thumbnail)
        put(b, ent(b, 58, 259, 3, 1, false), 6, 2, false)
        put(b, 70, 0L, 4, false)
        b
      case 3 =>
        val b = mk(26, be = false)
        put(b, 8, 1, 2, false)
        put(b, ent(b, 10, 256, 3, 1, false), (555 + id % 9).toInt, 2, false)
        put(b, 22, 8L, 4, false) // next-IFD cycles back to IFD0
        b
      case 4 => s"not a tiff $id".getBytes("US-ASCII")
      case _ =>
        val b = mk(22, be = false) // promises 2 entries, holds 1
        put(b, 8, 2, 2, false)
        put(b, ent(b, 10, 256, 3, 1, false), (320 + id % 100).toInt, 2, false)
        b
    }
  }

  /** TIFF/EXIF IFD walk over opaque image payloads — the random-access
    * member of the never-scan walker series (gzip m9, WARC m3, MP4 m11,
    * RIFF m8, ZIP m13, TAR m14): where those walk forward (or, for ZIP,
    * from the end), a TIFF is a POINTER GRAPH — the header points at
    * IFD0, each IFD's trailing offset points at the next IFD, and an
    * entry's value field is EITHER the value itself (when
    * count * typeSize <= 4 bytes, packed at the START of the field in
    * the file's byte order) or a u32 offset to it — the inline/indirect
    * split every TIFF reader must get right, pinned by an ASCII tag one
    * byte over the limit and an 8-byte RATIONAL. Byte order is declared
    * by the first two bytes ("II" little, "MM" big) and applies to
    * EVERY multi-byte field; the MM inline SHORT is the classic misread
    * (the value occupies the field's FIRST two bytes — reading the full
    * u32 yields value<<16), pinned by a big-endian family whose widths
    * only hash-match when read at SHORT width. The EXIF sub-IFD pointer
    * (tag 34665, LONG) is walked, not emitted — pointer plumbing, like
    * m14's 'L' pseudo-entry. Because the walk follows offsets, a
    * malicious or corrupt file can form a CYCLE; a visited-set turns
    * that into `malformed` (parsed entries KEPT) instead of an infinite
    * loop — the walker-series hardening ZIP64's bounded indirection
    * hinted at. Error-as-data: ok / not_tiff / malformed / truncated
    * (an IFD table, value, or next-pointer runs past EOF — the parsed
    * prefix kept); entry-less outcomes yield one marker row. Only IFD
    * tables and pointed-to values are read — strip data is never
    * touched, so a 100-MB scan costs ~12 bytes per tag. `ifd` labels:
    * the main chain is 0, 1, 2, ...; an EXIF sub-IFD is 100. Typed
    * mapPartitions riding the scan stage, MAP-ONLY, zero shuffle.
    */
  def tiffEntries(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = payloads.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, raw) =>
        val c = new ByteCursor(raw)
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Int, Int, Int, Long, Option[Long], Option[String])]
        val be = c.has(0, "MM")
        def u16(off: Long): Int = (if (be) c.be(off, 2) else c.le(off, 2)).toInt
        def u32(off: Long): Long = if (be) c.be(off, 4) else c.le(off, 4)
        // parse one IFD at `off0` labeled `label`; returns
        // (exifOffset, nextIfdOffset), 0 meaning absent
        def parseIfd(off0: Long, label: Int): (Long, Long) = {
          val n = u16(off0)
          val off = off0.toInt
          var exif = 0L
          var emitted = 0
          for (i <- 0 until n) {
            val e = c.need(off + 2 + i * 12, 12)
            val tag = u16(e); val typ = u16(e + 2); val cnt = u32(e + 4)
            val sz: Long = typ match {
              case 1 | 2 => 1L; case 3 => 2L; case 4 => 4L
              case 5 => 8L; case _ => 0L
            }
            val bl = cnt * sz
            if (sz == 0L) {
              // unknown type: surfaced, value unreadable
              out += ((label, emitted, tag, typ, cnt, None, None))
              emitted += 1
            } else {
              val v = c.need(if (bl <= 4) e + 8 else u32(e + 8), bl)
              if (tag == 34665 && typ == 4) exif = u32(v) // consumed: pointer plumbing
              else {
                out += ((label, emitted, tag, typ, cnt, typ match {
                  case 2 => None
                  case 1 => Some(c.u8(v).toLong)
                  case 3 => Some(u16(v).toLong)
                  case 4 => Some(u32(v))
                  case _ => // 5: RATIONAL
                    val den = u32(v + 4)
                    if (den == 0) None else Some(u32(v) / den)
                }, if (typ == 2) Some(c.asciiz(v, cnt.toInt)) else None))
                emitted += 1
              }
            }
          }
          (exif, u32(off + 2 + n * 12))
        }
        val status =
          if (!c.fits(0, 8) || !(c.has(0, "II") || be) || u16(2) != 42) "not_tiff"
          else try {
            var v: String = null
            var visited = Set.empty[Long]
            var chain = 0
            var cur = u32(4)
            while (cur != 0 && v == null) {
              if (visited(cur)) v = "malformed"
              else {
                visited += cur
                val (exif, next) = parseIfd(cur, chain)
                if (exif != 0) {
                  if (visited(exif)) v = "malformed"
                  else { visited += exif; parseIfd(exif, 100) }
                }
                cur = next; chain += 1
              }
            }
            if (v == null) "ok" else v
          } catch { case ByteCursor.Truncated => "truncated" }
        entryRows((id, status), out)
      }
    entryFrame(rows, "doc_id", "status", "ifd", "idx", "tag", "ftype", "cnt",
      "value_num", "value_str")
  }

  /** The blocklist pattern table for [[blocklistHits]]'s driver query —
    * deliberately a nested prefix/suffix family over the corpus
    * vocabulary: "scan" ⊃ "can" ⊃ "an" is a three-deep suffix chain
    * (every "scan" must also count one "can" and one "an" at the same
    * end position — the dictionary-suffix-link behavior), "tab" is a
    * proper prefix of "table" (the shorter fires while the automaton
    * keeps walking), "able" is a suffix of "table", and "table table"
    * crosses a word boundary (matching is raw substring, not
    * word-token).
    */
  val BlocklistPatterns: Seq[String] =
    Seq("an", "can", "scan", "tab", "table", "able", "value", "table table")

  /** Multi-pattern substring counting via an Aho–Corasick automaton —
    * the blocklist/filter-list primitive of web-corpus curation (C4's
    * banned-word list, domain denylists, boilerplate phrase filters).
    * Real lists hold 10⁴–10⁵ terms; the naive plan — one pass or one
    * regex alternation per term — is O(corpus × patterns), and a regex
    * alternation backtracks. The automaton makes the corpus cost
    * O(len(text) + matches) per document, INDEPENDENT of pattern count:
    * a goto-trie over the patterns with BFS failure links, outputs
    * flattened through the fail chain at build time so scanning never
    * walks dictionary links. Counts are ALL occurrence end positions
    * (overlaps included, both self-overlap "aa"×"aaaa"→3 and
    * cross-pattern nesting — a blocklist must count "able" inside
    * "table": substring hits are exactly what filter lists mean).
    * Matching is case-insensitive via one lower() applied BEFORE the
    * scan, in both engines. Output: one (doc_id, pattern, n_hits) row
    * per pattern with ≥1 hit.
    *
    * Scale shape: the automaton builds once per partition from the
    * broadcast-sized pattern array (at 10⁵ terms you would
    * `sparkContext.broadcast` the built automaton; the shape is
    * identical); the scan is a typed mapPartitions riding the scan
    * stage, zero exchange — corpus bytes are touched once no matter how
    * large the list grows. The DuckDB oracle IS the quadratic naive
    * form this replaces: docs × patterns × every start position,
    * substr-compared — a MATCH proves the linear automaton computes
    * exactly the O(n·p) answer.
    */
  def blocklistHits(spark: SparkSession, docs: DataFrame,
                    patterns: Seq[String] = BlocklistPatterns): DataFrame = {
    import spark.implicits._
    require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
      "patterns must be non-empty strings")
    val pats = patterns.map(_.toLowerCase).toArray
    docs.select(col("doc_id"), lower(col("text")).as("tx"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ac = AhoCorasick.build(pats)
        it.flatMap { case (id, tx) =>
          val c = ac.countAll(tx)
          c.indices.iterator.filter(c(_) > 0L)
            .map(j => (id, pats(j), c(j)))
        }
      }
      .toDF("doc_id", "pattern", "n_hits")
  }

  /** Interpolated Kneser–Ney bigram familiarity with CCNet-style
    * head/middle/tail bucketing — the perplexity quality filter of
    * web-corpus curation (CCNet trains a KenLM on Wikipedia and keeps
    * the low-perplexity head+middle of each Common-Crawl snapshot).
    * Upgrades [[bigramFamiliarity]]'s raw conditionals with the TWO
    * ideas that make KN the production smoother: absolute DISCOUNTING
    * (each seen bigram donates D=0.5 of its count to unseen events) and
    * CONTINUATION probability (a word's backoff weight is how many
    * distinct contexts it follows, not how often — "Francisco" is
    * frequent but only ever follows "San", so it must back off small).
    *
    *   P(r|l) = (c(l,r) − D)/c(l) + λ(l)·Pcont(r)      [interpolated]
    *   λ(l)   = D·N1+(l·)/c(l)     Pcont(r) = N1+(·r)/N1+(··)
    *
    * All arithmetic is integer ppm with the discount folded into
    * HALF-COUNTS (D=0.5 ⇒ numerator 2c−1 over denominator 2c(l)), so
    * the oracle contract is transcendental-free like t28. Two-step
    * rounding, both engines identical: pcont_ppm = 1e6·N1+(·r) div
    * N1+(··), then backoff = N1+(l·)·pcont_ppm div (2c(l)). Overflow
    * bounds: 1e6·(2c(l,r)−1) needs c(l,r) < ~4.6e12 (DECIMAL beyond);
    * N1+(l·)·pcont_ppm ≤ vocab·1e6, safe to ~9e12 vocab.
    *
    * The stored bigram table prunes at c(l,r) >= minCount (t28's real-LM
    * pruning); a pruned pair scores backoff-only (`n_backoff` counts
    * them — the KN analog of t28's n_oov). Continuation/history counts
    * come from the FULL corpus before pruning, the standard order.
    * Bucketing: tercile cutoffs of the per-doc mean score are estimated
    * on a deterministic 1-in-10 hash SAMPLE (md5-keyed, oracle-
    * reproducible) and broadcast back — the production shape, because a
    * global ntile is a single-partition sort; the only global window
    * here touches the sample. head = top tercile (most familiar,
    * lowest perplexity), the part CCNet keeps.
    *
    * Scale shape: pairs persist once and feed model build + scoring;
    * scoring is three hash joins keyed on words (pair → pruned model,
    * l → history table, r → continuation table — the unigram-sized
    * tables broadcast when vocab allows; shuffles carry words + ids,
    * never text); the cutoff table is one row, broadcast cross join.
    */
  def kneserNeyFamiliarity(docs: DataFrame, minCount: Long = 2): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    val toks = docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"), words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
    val pairs = toks.select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("w")) - 2),
          i => struct(element_at(col("w"), i + 1).as("l"),
            element_at(col("w"), i + 2).as("r")))).as("p"))
      .select(col("doc_id"), col("p.l").as("l"), col("p.r").as("r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    val clr = pairs.groupBy("l", "r").agg(count(lit(1)).as("c_lr"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    // history table: c(l) and the distinct-successor count N1+(l·)
    val lTab = clr.groupBy("l")
      .agg(sum("c_lr").as("c_l"), count(lit(1)).as("n1p_l"))
    // continuation table: N1+(·r), normalized by the distinct-bigram
    // total N1+(··) (a one-row broadcast cross join, never collected)
    val nTypes = clr.agg(count(lit(1)).as("n_types"))
    val rTab = clr.groupBy("r").agg(count(lit(1)).as("n1p_r"))
      .crossJoin(broadcast(nTypes))
      .select(col("r"), expr("(1000000 * n1p_r) div n_types").as("pcont_ppm"))
    // stored (pruned) model: the discounted ML part, ppm of half-counts
    val model = clr.filter(col("c_lr") >= minCount).join(lTab, "l")
      .select(col("l"), col("r"),
        expr("(1000000 * (2 * c_lr - 1)) div (2 * c_l)").as("pml_ppm"))
    val scored = pairs
      .join(lTab, "l").join(rTab, "r")
      .join(model, Seq("l", "r"), "left")
      .select(col("doc_id"), col("pml_ppm"),
        (coalesce(col("pml_ppm"), lit(0L)) +
          expr("(n1p_l * pcont_ppm) div (2 * c_l)")).as("score_ppm"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        count(when(col("pml_ppm").isNull, 1)).as("n_backoff"),
        sum(col("score_ppm")).as("sum_ppm"))
      .withColumn("kn_ppm", expr("sum_ppm div n_bigrams"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
    // tercile cutoffs on the deterministic 1-in-10 sample; value at
    // ascending rank ceil(n/3) / ceil(2n/3) under (kn_ppm, doc_id)
    val sample = scored
      .filter(h60(concat(lit("knq:"), col("doc_id").cast("string"))) % 10 === 0)
      .select(col("doc_id"), col("kn_ppm"))
    val rnWin = Window.orderBy(col("kn_ppm"), col("doc_id"))
    val cuts = sample
      .withColumn("rn", row_number().over(rnWin))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(lit(1))))
      .agg(max(when(expr("rn = (n + 2) div 3"), col("kn_ppm"))).as("c1"),
        max(when(expr("rn = (2 * n + 2) div 3"), col("kn_ppm"))).as("c2"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_bigrams"), col("n_backoff"),
        col("sum_ppm"), col("kn_ppm"),
        when(col("kn_ppm") <= col("c1"), "tail")
          .when(col("kn_ppm") <= col("c2"), "middle")
          .otherwise("head").as("bucket"))
  }
}

/** Aho–Corasick automaton used by [[TrainingOps.blocklistHits]]. Built
  * once per partition (or broadcast, at real list sizes); `countAll`
  * returns per-pattern occurrence counts over one left-to-right pass.
  * Outputs are flattened through failure links at build time (BFS order
  * guarantees a node's fail target — strictly shallower — is already
  * flattened when the node is dequeued), so the scan loop never chases
  * dictionary links.
  */
private[datapipe] object AhoCorasick {
  final class Automaton(goto: Array[java.util.HashMap[Character, Integer]],
                        fail: Array[Int], out: Array[Array[Int]],
                        nPat: Int) extends Serializable {
    def countAll(tx: String): Array[Long] = {
      val c = new Array[Long](nPat)
      var s = 0
      var i = 0
      while (i < tx.length) {
        val ch = Character.valueOf(tx.charAt(i))
        var n = goto(s).get(ch)
        while (n == null && s != 0) { s = fail(s); n = goto(s).get(ch) }
        s = if (n == null) 0 else n.intValue
        val o = out(s)
        var j = 0
        while (j < o.length) { c(o(j)) += 1L; j += 1 }
        i += 1
      }
      c
    }
  }

  def build(pats: Array[String]): Automaton = {
    import scala.collection.mutable.ArrayBuffer
    val goto = ArrayBuffer(new java.util.HashMap[Character, Integer]())
    val outB = ArrayBuffer(ArrayBuffer.empty[Int])
    pats.zipWithIndex.foreach { case (p, pi) =>
      var s = 0
      p.foreach { ch =>
        val key = Character.valueOf(ch)
        val nx = goto(s).get(key)
        if (nx == null) {
          goto += new java.util.HashMap[Character, Integer]()
          outB += ArrayBuffer.empty[Int]
          goto(s).put(key, Integer.valueOf(goto.length - 1))
          s = goto.length - 1
        } else s = nx.intValue
      }
      outB(s) += pi
    }
    val fail = new Array[Int](goto.length)
    val q = scala.collection.mutable.Queue.empty[Int]
    goto(0).forEach((_, v) => { fail(v.intValue) = 0; q.enqueue(v.intValue) })
    while (q.nonEmpty) {
      val u = q.dequeue()
      // fail(u) is strictly shallower, hence already flattened
      outB(u) ++= outB(fail(u))
      goto(u).forEach { (ch, v) =>
        var f = fail(u)
        var t = goto(f).get(ch)
        while (t == null && f != 0) { f = fail(f); t = goto(f).get(ch) }
        fail(v.intValue) = if (t == null) 0 else t.intValue
        q.enqueue(v.intValue)
      }
    }
    new Automaton(goto.toArray, fail, outB.map(_.toArray).toArray, pats.length)
  }
}
